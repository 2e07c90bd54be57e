"""Workload ``corpus_nightly``: the nightly ingest cycle over a crawl
delta, then top-k serving from the layouts it maintained.

Set-up builds the serving layouts on the base corpus (the last ~10% of
documents and vectors are held out as the delta): PQ and residual IVFPQ
indexes, BM25 postings, the trigram LM and the objects LSM layout.

The cycle (fixed work, timed per stage): delta-vs-base dedup (exact,
MinHash-LSH, containment at cap 20); batch appends of the delta into the
postings, PQ, IVFPQ and trigram layouts; the delta vectors streamed into
a staged (unfolded) twin of the PQ index; four micro-batches of
object mutations streamed into the objects LSM, folded once due; and
the billing rollups (bucket usage, hourly API traffic, sessions).

Serving (closed loop, one client, ``--seconds`` long): a fixed rotation
of single PQ, IVFPQ, label-filtered PQ, batched IVFPQ (16 ids), BM25
and trigram-probe queries, with every fourth query sent to the staged
twin.  Query ids and BM25 term tuples never repeat within a run.  ANN
answers are checked against an exact numpy top-k (which also gives
recall), BM25 against ``bm25_topk_oracle``, probes against the trigram
oracle and dedup pair counts against their DuckDB twins.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import cpu_seconds, dir_bytes, median, patched, pct, spanned

SIZES = gen.Sizes(orders=5000, customers=500, lineitems_per_order=1,
                  suppliers=50, parts=200, documents=1200, vectors=800,
                  events=4000, vocab=400)
K = 10
BATCH = 16
CONTAINMENT_CAP = 20
MUTATION_BATCHES = 4
# positions 3 and 7 go to the staged PQ twin: one query in four
ROTATION = ["pq", "bm25", "ivfpq", "pq", "pq_filtered", "ivfpq_batch",
            "trigram_probe", "pq"]
MODEL_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem"]


class Layouts:
    def __init__(self, root):
        self.root = root
        self.pq = f"{root}/pq"
        self.ivfpq = f"{root}/ivfpq"
        self.postings = f"{root}/postings"
        self.trigram = f"{root}/trigram"
        self.objects = f"{root}/objects_lsm"
        self.pq_twin = f"{root}/pq_twin"

    def all(self):
        return [self.pq, self.ivfpq, self.postings, self.trigram,
                self.objects, self.pq_twin]


def _setup(spark, t, base_docs, base_vecs, lay: Layouts):
    """Build the base layouts, independent builds side by side (as a
    deployment would), each one's Spark jobs sharing the local cores."""
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval, similarity, text
    from pithos_spark.streaming import ingest

    def pq_and_twin():
        similarity.save_pq_index(base_vecs, lay.pq)
        shutil.copytree(lay.pq, lay.pq_twin)

    builds = [
        pq_and_twin,
        lambda: similarity.save_ivfpq_residual_index(base_vecs, lay.ivfpq),
        lambda: retrieval.write_postings_layout(base_docs, lay.postings),
        lambda: text.write_trigram_lm_layout(base_docs, lay.trigram),
        lambda: ingest.save_objects_layout(T.objects_df(t), lay.objects),
    ]
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        for f in [pool.submit(b) for b in builds]:
            f.result()


def _mutation_files(st_keys, seed, data):
    """Four mutation micro-batches in the objects schema: new crawl keys
    (upserts) plus tombstones of existing keys, one key per batch at
    most once."""
    rng = np.random.default_rng(seed + 23)
    out = f"{data}/mutations"
    os.makedirs(out)
    used = set()
    for b in range(MUTATION_BATCHES):
        rows = {k: [] for k in ("bucket", "object", "inode", "size", "atime",
                                "checksum", "acl", "storageclass", "owner",
                                "_tombstone")}
        for j in range(40):
            nat = int(rng.integers(0, gen.N_NATIONS))
            if j % 4 == 3:
                bkt, key = st_keys[int(rng.integers(0, len(st_keys)))]
                tomb = True
            else:
                bkt, key = f"NATION_{nat}", f"crawl/{seed}/{b}-{j}"
                tomb = False
            if (bkt, key) in used:
                continue
            used.add((bkt, key))
            rows["bucket"].append(bkt)
            rows["object"].append(key)
            rows["inode"].append(f"c{b}-{j}")
            rows["size"].append(int(rng.integers(1, 10**6)))
            rows["atime"].append("2024-01-02")
            rows["checksum"].append(f"{b:02d}{j:030d}")
            rows["acl"].append(None)
            rows["storageclass"].append("STANDARD")
            rows["owner"].append(gen.REGIONS[int(bkt.split("_")[1]) % 5])
            rows["_tombstone"].append(tomb)
        schema = pa.schema([("bucket", pa.string()), ("object", pa.string()),
                            ("inode", pa.string()), ("size", pa.int64()),
                            ("atime", pa.string()), ("checksum", pa.string()),
                            ("acl", pa.string()), ("storageclass", pa.string()),
                            ("owner", pa.string()), ("_tombstone", pa.bool_())])
        pq.write_table(pa.table(rows, schema=schema), f"{out}/batch{b}.parquet")
    return out


def _delta_files(data, n_base_vecs):
    """The delta vectors as a two-file parquet source for the stream
    (one file per micro-batch)."""
    delta = pq.read_table(f"{data}/embeddings.parquet").slice(n_base_vecs)
    out = f"{data}/delta_vecs"
    os.makedirs(out)
    half = delta.num_rows // 2
    pq.write_table(delta.slice(0, half), f"{out}/part-0.parquet")
    pq.write_table(delta.slice(half), f"{out}/part-1.parquet")


def _object_keys(facts):
    o = facts["orders"]
    nat = facts["c_nat"][o["cust"]]
    out = []
    for ok in range(len(o["cust"])):
        sep = "/" if ok % 3 == 0 else "-"
        out.append((f"NATION_{nat[ok]}",
                    f"{gen.PRIORITIES[o['prio'][ok]]}/{gen.STATUSES[o['status'][ok]]}{sep}{ok}"))
    return out


# ---------------------------------------------------------------------------
# the nightly cycle
# ---------------------------------------------------------------------------


def _cycle(ctx, t, docs, vecs, n_base_docs, n_base_vecs, lay, mut_src, stages):
    import pyspark.sql.functions as F

    from pithos_spark import registry
    from pithos_spark.functions import dedup, retrieval, similarity, text
    from pithos_spark.operators import dispatch
    from pithos_spark.streaming import events, ingest

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    base_d = docs.filter(F.col("doc_id") < n_base_docs)
    delta_d = docs.filter(F.col("doc_id") >= n_base_docs)
    delta_v = vecs.filter(F.col("vec_id") >= n_base_vecs)
    found = {}

    def stage(name, fn):
        with tr.span(name, req=name):
            a = time.perf_counter()
            r = fn()
            stages.append((name, time.perf_counter() - a))
        return r

    found["exact"] = stage("dedup.exact", lambda: dedup.exact_dedup(docs).filter(
        "copies > 1").count())
    found["minhash"] = stage("dedup.minhash", lambda: dedup.incremental_dedup_pairs(
        delta_d, base_d).count())
    found["containment"] = stage("dedup.containment", lambda: dedup.incremental_containment_pairs(
        delta_d, base_d, max_shingle_df=CONTAINMENT_CAP).count())
    stage("retrieval.append", lambda: retrieval.append_to_postings_layout(
        delta_d, lay.postings))
    stage("similarity.append", lambda: (
        similarity.append_to_pq_index(delta_v, lay.pq),
        similarity.append_to_ivfpq_residual_index(delta_v, lay.ivfpq)))
    stage("text.trigram_append", lambda: text.append_to_trigram_lm_layout(
        delta_d, lay.trigram))

    def stream_all():
        for src, schema, fn, layout, ck in (
            (f"{work}/data/delta_vecs", vecs.schema, ingest.streaming_pq_index_ingest,
             lay.pq_twin, "ck_pq"),
            (mut_src, _mutation_schema(spark, mut_src), ingest.streaming_objects_ingest,
             lay.objects, "ck_obj"),
        ):
            q = fn(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                   .parquet(src), layout, f"{work}/{ck}")
            q.awaitTermination(300)
            q.stop()

    stage("ingest.stream", stream_all)
    found["segments"] = len([d for d in os.listdir(f"{lay.objects}/staged")
                             if d.startswith("seg=")])
    found["folded"] = stage("ingest.fold", lambda: ingest.compact_staged_objects_if_needed(
        spark, lay.objects))
    ev = t["events"]
    found["api_traffic"] = stage("dispatch.api_traffic", lambda: dispatch.api_traffic_hourly(
        ev, dispatch.opmap_df(spark)).collect())
    found["bucket_usage"] = stage("usage.bucket_usage", lambda: registry.bucket_usage(
        spark, f"{work}/data").collect())
    found["sessions"] = stage("events.sessionize", lambda: events.sessionize(ev).count())
    return found


def _mutation_schema(spark, src):
    return spark.read.parquet(src).schema


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------


def _queries(seed, facts, n_docs, n_vecs, n_queries):
    rng = np.random.default_rng(seed + 31)
    vec_ids = iter(rng.permutation(n_vecs).tolist())
    vocab = facts["vocab"]
    # mid-frequency words: frequent enough to match, rare enough to rank
    pool = list(range(5, min(len(vocab), 150)))
    seen_terms = set()
    probe_ids = iter(rng.permutation(n_docs).tolist())
    out = []
    for i, kind in zip(range(n_queries), itertools.cycle(ROTATION)):
        staged = i % 4 == 3
        q = {"i": i, "kind": kind, "staged": staged}
        if kind in ("pq", "ivfpq", "pq_filtered"):
            q["qid"] = next(vec_ids)
            if kind == "pq_filtered":
                q["label"] = int(facts["labels"][q["qid"]])
        elif kind == "ivfpq_batch":
            q["qids"] = [next(vec_ids) for _ in range(BATCH)]
        elif kind == "bm25":
            while True:
                n = int(rng.integers(2, 4))
                tt = tuple(sorted(vocab[j] for j in rng.choice(pool, n, replace=False)))
                if tt not in seen_terms:
                    seen_terms.add(tt)
                    break
            q["terms"] = tt
        else:
            q["docs"] = [next(probe_ids) for _ in range(2)]
        out.append(q)
    return out


def _serve(ctx, docs, vecs, lay, q):
    import pyspark.sql.functions as F

    from pithos_spark.functions import retrieval, similarity, text
    from pithos_spark.streaming import ingest

    spark = ctx.spark
    kind = q["kind"]
    if kind == "pq" and q["staged"]:
        return ingest.pq_topk_with_staged(vecs, lay.pq_twin, q["qid"], K).collect()
    if kind == "pq":
        return similarity.pq_topk_from_layout(vecs, lay.pq, q["qid"], K).collect()
    if kind == "ivfpq":
        return similarity.ivfpq_residual_topk_from_layout(vecs, lay.ivfpq, q["qid"], K).collect()
    if kind == "pq_filtered":
        return similarity.pq_filtered_topk_from_layout(
            vecs, lay.pq, q["qid"], q["label"], K).collect()
    if kind == "ivfpq_batch":
        return similarity.ivfpq_residual_batch_topk_from_layout(
            vecs, lay.ivfpq, q["qids"], K).collect()
    if kind == "bm25":
        return retrieval.bm25_topk_from_postings(spark, lay.postings, q["terms"], K).collect()
    return text.trigram_probe_from_layout(
        docs.filter(F.col("doc_id").isin(q["docs"])), lay.trigram).collect()


SPAN_OF = {"pq": "similarity.pq_topk", "ivfpq": "similarity.ivfpq_topk",
           "pq_filtered": "similarity.pq_filtered",
           "ivfpq_batch": "similarity.ivfpq_batch", "bm25": "retrieval.bm25",
           "trigram_probe": "text.trigram_probe"}


def span_name(q):
    return "ingest.staged_read" if q["staged"] else SPAN_OF[q["kind"]]


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


class Exact:
    """Exact quantized-dot top-k (the ``brute_force_topk`` definition:
    floor(x * 1000) as int64, ties by vec_id, the query excluded)."""

    def __init__(self, emb, labels):
        self.q = np.floor(emb.astype(np.float64) * 1000).astype(np.int64)
        self.labels = labels

    def dots(self, qid):
        return self.q @ self.q[qid]

    def topk(self, qid, label=None):
        d = self.dots(qid)
        ids = np.arange(len(d))
        keep = ids != qid
        if label is not None:
            keep &= self.labels == label
        ids = ids[keep]
        order = np.lexsort((ids, -d[ids]))
        return ids[order][:K].tolist()


def _ann_ok(rows, qid, ex: Exact, label=None):
    """Returned rows are distinct corpus vectors in order, each with its
    exact quantized dot; returns (ok, recall)."""
    d = ex.dots(qid)
    ids = [int(r["vec_id"]) for r in rows]
    ok = len(ids) == K and len(set(ids)) == K and qid not in ids
    if ok:
        dots = [int(r["dot_q"]) for r in rows]
        ok = dots == [int(d[i]) for i in ids] and all(
            (dots[j], -ids[j]) >= (dots[j + 1], -ids[j + 1]) for j in range(K - 1))
    if ok and label is not None:
        ok = all(int(ex.labels[i]) == label for i in ids)
    truth = ex.topk(qid, label)
    return ok, len(set(ids) & set(truth)) / K


def _check_query(q, rows, ex, con):
    kind = q["kind"]
    if kind in ("pq", "ivfpq", "pq_filtered"):
        return _ann_ok(rows, q["qid"], ex, q.get("label"))
    if kind == "ivfpq_batch":
        by = {}
        for r in rows:
            by.setdefault(int(r["query_id"]), []).append(r)
        oks, recs = [], []
        for qid in q["qids"]:
            got = sorted(by.get(qid, []), key=lambda r: (-int(r["dot_q"]), int(r["vec_id"])))
            ok, rec = _ann_ok(got, qid, ex)
            oks.append(ok)
            recs.append(rec)
        return all(oks), recs
    if kind == "bm25":
        from pithos_spark.functions import retrieval

        want = con.execute(retrieval.bm25_topk_oracle(q["terms"], K)).fetchall()
        got = [(int(r["doc_id"]), int(r["score_q"])) for r in rows]
        return got == [(int(a), int(b)) for a, b in want], None
    from pithos_spark.functions import text

    ids = ",".join(str(d) for d in q["docs"])
    sql = text.trigram_heldout_score_oracle(
        score_pred=f"doc_id IN ({ids})", lm_pred="doc_id >= 0")
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    want = sorted(tuple(r) for r in cur.fetchall())
    got = sorted(tuple(r[c] for c in cols) for r in rows)
    return got == want, None


def _check_cycle(found, con, n_base_docs, n_mut):
    from pithos_spark import registry
    from pithos_spark.functions import dedup
    from pithos_spark.operators import dispatch
    from pithos_spark.streaming import events

    checks = {}
    checks["dedup.exact"] = found["exact"] == con.execute(
        "SELECT count(*) FROM (SELECT md5(text) FROM documents "
        "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    checks["dedup.minhash"] = found["minhash"] == con.execute(
        f"SELECT count(*) FROM ({dedup.incremental_dedup_pairs_oracle(n_base_docs)})"
    ).fetchone()[0]
    checks["dedup.containment"] = found["containment"] == con.execute(
        "SELECT count(*) FROM ({})".format(dedup.incremental_containment_pairs_oracle(
            n_base_docs, max_shingle_df=CONTAINMENT_CAP))).fetchone()[0]
    checks["ingest.fold"] = found["segments"] == MUTATION_BATCHES and found["folded"] == n_mut
    want = sorted(tuple(r) for r in con.execute(registry.ORACLES["bucket_usage"]).fetchall())
    checks["usage.bucket_usage"] = sorted(tuple(r) for r in found["bucket_usage"]) == want
    want = sorted(tuple(r) for r in con.execute(dispatch.api_traffic_hourly_oracle()).fetchall())
    checks["dispatch.api_traffic"] = sorted(tuple(r) for r in found["api_traffic"]) == want
    checks["events.sessionize"] = found["sessions"] == con.execute(
        f"SELECT count(*) FROM ({events.SESSIONIZE_SQL})").fetchone()[0]
    return checks


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------


def run(ctx):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.sources import store as store_mod

    spark, seed, tr = ctx.spark, ctx.seed, ctx.tracer
    data = f"{ctx.work}/data"
    facts = gen.write_tables(data, seed, SIZES)
    n_base_docs, n_base_vecs = facts["n_base_docs"], facts["n_base_vecs"]
    mut_src = _mutation_files(_object_keys(facts), seed, data)
    n_mut = pq.read_table(mut_src).num_rows
    _delta_files(data, n_base_vecs)
    queries = _queries(seed, facts, SIZES.documents, SIZES.vectors,
                       8 * len(ROTATION))
    ex = Exact(facts["embeddings"], facts["labels"])

    t = T.load_tables(spark, data)
    docs, vecs = t["documents"], t["embeddings"]
    base_docs = docs.filter(F.col("doc_id") < n_base_docs)
    base_vecs = vecs.filter(F.col("vec_id") < n_base_vecs)
    lay = Layouts(f"{ctx.work}/layouts")
    cpu0, a = cpu_seconds(), time.perf_counter()
    _setup(spark, t, base_docs, base_vecs, lay)
    base_wall_s, base_cpu_s = time.perf_counter() - a, cpu_seconds() - cpu0

    stages = []
    with patched(store_mod, "write_objects_layout", spanned(tr, "store.layout_write")):
        bytes_before = sum(dir_bytes(p) for p in lay.all())
        cpu0 = cpu_seconds()
        a = time.perf_counter()
        found = _cycle(ctx, t, docs, vecs, n_base_docs, n_base_vecs, lay,
                       mut_src, stages)
        cycle_s = time.perf_counter() - a
        cycle_cpu_s = cpu_seconds() - cpu0
        bytes_after = sum(dir_bytes(p) for p in lay.all())

    # serving: closed loop, one client, for --seconds
    lat, cpu_ms, done = [], [], []
    t_end = time.perf_counter() + ctx.seconds
    for q in queries:
        if time.perf_counter() >= t_end and len(done) >= len(ROTATION):
            break
        with tr.span(span_name(q), req=f"q{q['i']}"):
            cpu0, a = cpu_seconds(), time.perf_counter()
            rows = _serve(ctx, docs, vecs, lay, q)
            lat.append((time.perf_counter() - a) * 1000)
            cpu_ms.append((cpu_seconds() - cpu0) * 1000)
        done.append((q, [r.asDict() for r in rows]))
    if ctx.plant:
        q0, rows0 = done[0]
        rows0[0] = {**rows0[0], "dot_q": int(rows0[0]["dot_q"]) + 1} \
            if "dot_q" in rows0[0] else {**rows0[0], "score_q": -1}

    con = ctx.duckdb(data, ["documents", "events"] + MODEL_TABLES)
    failed, recalls = 0, []
    for q, rows in done:
        ok, rec = _check_query(q, rows, ex, con)
        failed += not ok
        if isinstance(rec, list):
            recalls += rec
        elif rec is not None:
            recalls.append(rec)
    checks = _check_cycle(found, con, n_base_docs, n_mut)
    failed += sum(not v for v in checks.values())
    attempted = len(done) + len(checks)

    src = gen.source_bytes(data, ["documents", "embeddings", "orders",
                                  "customer", "nation", "region"])
    layouts_bytes = sum(dir_bytes(p) for p in lay.all())
    stage_ms = [s * 1000 for _n, s in stages]
    delta_docs = SIZES.documents - n_base_docs
    report = {
        "topk_p50_ms": (median(lat), len(lat)),
        "topk_p90_ms": (pct(lat, 90), len(lat)),
        "topk_qps": (len(lat) / (sum(lat) / 1000), len(lat)),
        "topk_cpu_ms_mean": (sum(cpu_ms) / len(cpu_ms), len(cpu_ms)),
        "topk_recall_at_10": (sum(recalls) / len(recalls), len(recalls)),
        "nightly_docs_per_s": (delta_docs / cycle_s, 1),
        "nightly_cycle_s": (cycle_s, 1),
        "nightly_cpu_s": (cycle_cpu_s, 1),
        "base_build_wall_s": (base_wall_s, 1),
        "base_build_cpu_s": (base_cpu_s, 1),
        "nightly_stage_p50_ms": (median(stage_ms), len(stage_ms)),
    }
    delta_bytes = _delta_input_bytes(data, n_base_docs, n_base_vecs)
    report["bytes_written_per_input_byte"] = (
        (bytes_after - bytes_before) / delta_bytes, 1)
    report.update({f"stage.{n}_s": (s, 1) for n, s in stages})
    report.update({f"check.{k}": (float(v), 1) for k, v in checks.items()})
    e2e = {
        # everything before serving: the base build and the nightly cycle
        "setup_s": base_cpu_s + cycle_cpu_s,
        "cpu_ms_per_op": median(cpu_ms),
        "space_amp": layouts_bytes / src,
    }
    return {"e2e": e2e, "report": report, "attempted": attempted,
            "failed": failed, "found": found, "sizes": SIZES.as_dict(),
            "bytes_written": bytes_after - bytes_before,
            "delta_input_bytes": delta_bytes}


def _delta_input_bytes(data, n_base_docs, n_base_vecs):
    d = pq.read_table(f"{data}/documents.parquet")
    v = pq.read_table(f"{data}/embeddings.parquet")
    return (d.slice(n_base_docs).nbytes + v.slice(n_base_vecs).nbytes)
