"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported on every workload; a layer that a workload
leaves idle reports 0 there (s3_api never reaches ``functions.*``,
corpus_nightly never reaches the request operators).  Times are means
per call of the span named after the layer, in ms for request-path
layers and in s for nightly stages; ``*_per_*`` ratios take their base
from the same spans.
"""

from __future__ import annotations


def _mean(tr, names, key="dur_s", scale=1000.0):
    xs = [s[key] for s in tr.spans if s["name"] in names]
    return scale * sum(xs) / len(xs) if xs else 0.0


def _sum(tr, names, key):
    return sum(s[key] for s in tr.spans if s["name"] in names)


def _ratio(num, den):
    return num / den if den else 0.0


def compute(tr, out) -> dict:
    for s in tr.spans:
        s["dur_s"] = s["end"] - s["start"]
    m = {}
    # --- request path (s3_api) -------------------------------------------
    m["dispatch.resolve_ms"] = _mean(tr, {"dispatch.resolve"})
    m["sig.auth_ms"] = _mean(tr, {"sig.auth"})
    m["perms.authorize_ms"] = _mean(tr, {"perms.authorize"})
    m["perms.jobs_per_req"] = _ratio(_sum(tr, {"perms.authorize"}, "jobs"),
                                     tr.count({"perms.authorize"}))
    m["listing.page_ms"] = _mean(tr, {"listing.page"}, key="self_s")
    m["listing.jobs_per_page"] = _ratio(_sum(tr, {"listing.page"}, "jobs"),
                                        tr.count({"listing.page"}))
    entries = sum(len(r["payload"].split("<Key>")) - 1
                  + len(r["payload"].split("<CommonPrefixes>")) - 1
                  for q, r in zip(out.get("ops", []), out.get("results", []))
                  if q["op"] == "list" and r["status"] == 200)
    m["listing.rows_scanned_per_entry"] = _ratio(
        _sum(tr, {"listing.page"}, "rows_in"), entries)
    m["xmlio.render_ms"] = _mean(tr, {"xmlio.render"})
    m["api.head_ms"] = _mean(tr, {"api.head"})
    m["api.range_read_ms"] = _mean(tr, {"api.range_read"})
    preflight_reqs = {s["req"] for s in tr.spans if s["name"] == "cors.preflight"}
    m["cors.preflight_ms"] = _ratio(
        1000 * (_sum(tr, {"cors.preflight"}, "dur_s") + sum(
            s["self_s"] for s in tr.spans
            if s["name"] == "request" and s["req"] in preflight_reqs)),
        len(preflight_reqs))
    m["multipart.complete_ms"] = _mean(tr, {"multipart.complete"})
    m["store.chunk_ingest_ms"] = _ratio(
        1000 * _sum(tr, {"store.chunk_ingest", "force.chunks"}, "dur_s"),
        tr.count({"store.chunk_ingest"}))
    m["store.merge_upsert_ms"] = _ratio(
        1000 * _sum(tr, {"store.merge_upsert", "force.parts"}, "dur_s"),
        tr.count({"store.merge_upsert"}))
    # --- serving from layouts (corpus_nightly) ---------------------------
    ann = {"similarity.pq_topk", "similarity.ivfpq_topk",
           "similarity.pq_filtered", "similarity.ivfpq_batch"}
    m["similarity.pq_topk_ms"] = _mean(tr, {"similarity.pq_topk"})
    m["similarity.ivfpq_topk_ms"] = _mean(tr, {"similarity.ivfpq_topk"})
    n_batch = tr.count({"similarity.ivfpq_batch"})
    m["similarity.batch_ms_per_query"] = _ratio(
        1000 * _sum(tr, {"similarity.ivfpq_batch"}, "dur_s"), 16 * n_batch)
    ann_queries = tr.count(ann - {"similarity.ivfpq_batch"}) + 16 * n_batch
    m["similarity.rows_scanned_per_query"] = _ratio(_sum(tr, ann, "rows_in"),
                                                    ann_queries)
    m["similarity.jobs_per_query"] = _ratio(_sum(tr, ann, "jobs"), ann_queries)
    m["retrieval.bm25_ms"] = _mean(tr, {"retrieval.bm25"})
    m["retrieval.rows_scanned_per_query"] = _ratio(
        _sum(tr, {"retrieval.bm25"}, "rows_in"), tr.count({"retrieval.bm25"}))
    m["text.trigram_probe_ms"] = _mean(tr, {"text.trigram_probe"})
    m["ingest.staged_read_ms"] = _mean(tr, {"ingest.staged_read"})
    # --- nightly cycle (corpus_nightly), seconds per stage ---------------
    for name in ("dedup.exact", "dedup.minhash", "dedup.containment",
                 "retrieval.append", "similarity.append",
                 "text.trigram_append", "ingest.stream", "ingest.fold",
                 "dispatch.api_traffic", "usage.bucket_usage",
                 "events.sessionize"):
        m[f"{name}_s"] = _mean(tr, {name}, scale=1.0)
    m["store.layout_write_s"] = float(_sum(tr, {"store.layout_write"}, "dur_s"))
    m["store.bytes_written_per_input_byte"] = _ratio(
        out.get("bytes_written", 0), out.get("delta_input_bytes", 0))
    m["ingest.staged_segments"] = float(out.get("found", {}).get("segments", 0))
    # --- engine, per operation ------------------------------------------
    top = [s for s in tr.spans if s["parent"] is None]
    ops = len(top)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = _ratio(sum(s[k] for s in tr.spans), ops)
    busy = sum(s["dur_s"] for s in top)
    m["trace.overhead_pct"] = _ratio(100.0 * tr.own_s, busy)
    return m
