"""Seeded input generation.

The source tables every run feeds the program: the TPC-H-ish star
schema plus documents, embeddings and events that ``pithos_spark.tables``
derives the object store from.  The workload modules build their
requests and queries from the facts :func:`write_tables` returns.  The
same seed gives the same files, byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_NATIONS = 25
DIM = 64
N_LABELS = 10


class Sizes:
    """Row counts of one generated data set."""

    def __init__(self, orders, customers, lineitems_per_order, suppliers,
                 parts, documents, vectors, events, vocab):
        self.orders = orders
        self.customers = customers
        self.lineitems_per_order = lineitems_per_order
        self.suppliers = suppliers
        self.parts = parts
        self.documents = documents
        self.vectors = vectors
        self.events = events
        self.vocab = vocab

    def as_dict(self):
        return dict(self.__dict__)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def vocabulary(n: int) -> list[str]:
    """Pronounceable distinct words: consonant-vowel syllables."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = []
    i = 0
    while len(words) < n:
        a, b, c = i % 18, (i // 18) % 5, (i // 90) % 18
        d = (i // 1620) % 5
        w = cons[a] + vows[b] + cons[c] + (vows[d] if i >= 1620 else "")
        words.append(w + ("" if i < 8100 else str(i // 8100)))
        i += 1
    return words


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def write_tables(out_dir: str, seed: int, sz: Sizes) -> dict:
    """Write every source table as ``<out_dir>/<name>.parquet`` and
    return the facts the request generators and checks need (vocab,
    held-out split, vectors, source rows of the object store)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    epoch_1992 = np.datetime64("1992-01-01T00:00:00", "us")

    _write({"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}, f"{out_dir}/region.parquet")
    _write({"n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)],
                                    pa.int32())},
           f"{out_dir}/nation.parquet")

    # customers are Zipf-skewed over nations, so buckets (one per
    # nation) range from hot to nearly empty
    nat_w = zipf_weights(N_NATIONS, 0.9)
    c_nat = rng.choice(N_NATIONS, size=sz.customers, p=nat_w)
    _write({"c_custkey": np.arange(sz.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(sz.customers)],
            "c_nationkey": c_nat.astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, sz.customers), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], sz.customers)},
           f"{out_dir}/customer.parquet")

    s_nat = rng.integers(0, N_NATIONS, sz.suppliers)
    _write({"s_suppkey": np.arange(sz.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(sz.suppliers)],
            "s_nationkey": s_nat.astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, sz.suppliers), 2)},
           f"{out_dir}/supplier.parquet")

    p_size = rng.integers(1, 50, sz.parts)
    _write({"p_partkey": np.arange(sz.parts, dtype=np.int64),
            "p_name": rng.choice(["large ring", "hot bolt", "small nut",
                                  "red gear"], sz.parts),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 30, sz.parts)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD"], sz.parts),
            "p_size": p_size.astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, sz.parts), 2)},
           f"{out_dir}/part.parquet")

    o_cust = rng.integers(0, sz.customers, sz.orders)
    o_status = rng.integers(0, 3, sz.orders)
    o_prio = rng.integers(0, 5, sz.orders)
    o_price = np.round(rng.uniform(900, 400000, sz.orders), 2)
    o_date = epoch_1992 + (rng.integers(0, 3650, sz.orders)
                           * 86_400_000_000).astype("timedelta64[us]")
    _write({"o_orderkey": np.arange(sz.orders, dtype=np.int64),
            "o_custkey": o_cust.astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[o_status],
            "o_totalprice": o_price,
            "o_orderdate": o_date,
            "o_orderpriority": np.array(PRIORITIES)[o_prio]},
           f"{out_dir}/orders.parquet")

    n_li = sz.orders * sz.lineitems_per_order
    l_order = np.repeat(np.arange(sz.orders, dtype=np.int64),
                        sz.lineitems_per_order)
    l_line = np.tile(np.arange(1, sz.lineitems_per_order + 1, dtype=np.int32),
                     sz.orders)
    _write({"l_orderkey": l_order,
            "l_partkey": rng.integers(0, sz.parts, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, sz.suppliers, n_li).astype(np.int64),
            "l_linenumber": l_line,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": epoch_1992 + (rng.integers(0, 3650, n_li)
                                        * 86_400_000_000).astype(
                                            "timedelta64[us]")},
           f"{out_dir}/lineitem.parquet")

    # documents: Zipf word soup.  The last ~10% of doc ids are the
    # nightly delta; some delta documents are planted copies, near
    # copies and extensions of base documents so every dedup tier has
    # true positives.
    vocab = vocabulary(sz.vocab)
    w = zipf_weights(sz.vocab, 1.05)
    n_base = sz.documents - sz.documents // 10
    texts = []
    for _ in range(sz.documents):
        n = int(rng.integers(8, 90))
        texts.append(" ".join(np.array(vocab)[rng.choice(sz.vocab, n, p=w)]))
    for d in range(n_base, sz.documents):
        r = rng.random()
        src = int(rng.integers(0, n_base))
        if r < 0.08:
            texts[d] = texts[src]
        elif r < 0.20:
            toks = texts[src].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = vocab[int(rng.integers(0, sz.vocab))]
            texts[d] = " ".join(toks)
        elif r < 0.28:
            extra = " ".join(np.array(vocab)[rng.choice(sz.vocab, 4, p=w)])
            texts[d] = texts[src] + " " + extra
    _write({"doc_id": np.arange(sz.documents, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, sz.documents)],
            "source": [f"src{i % 5}" for i in range(sz.documents)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           f"{out_dir}/documents.parquet")

    # embeddings: clustered around one centre per label, so ANN recall
    # is meaningful; the last ~10% of vec ids are the nightly delta
    centres = rng.normal(0, 0.3, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, sz.vectors)
    emb = (centres[labels] + rng.normal(0, 0.12, (sz.vectors, DIM))).astype(
        np.float32)
    _write({"vec_id": np.arange(sz.vectors, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": labels.astype(np.int32)},
           f"{out_dir}/embeddings.parquet")

    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, sz.events)).astype(
            "timedelta64[us]")
    _write({"event_id": np.arange(sz.events, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(sz.events // 60, 1),
                                    sz.events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.integers(0, 5, sz.events)],
            "value": np.round(rng.uniform(0, 200, sz.events), 2),
            "props": [f'{{"k": {k}}}' for k in
                      rng.integers(0, 100, sz.events)]},
           f"{out_dir}/events.parquet")

    return {
        "vocab": vocab,
        "n_base_docs": n_base,
        "n_base_vecs": sz.vectors - sz.vectors // 10,
        "embeddings": emb,
        "labels": labels,
        "orders": {"cust": o_cust, "status": o_status, "prio": o_prio,
                   "price": o_price, "date": o_date},
        "c_nat": c_nat,
        "s_nat": s_nat,
        "p_size": p_size,
    }


def source_bytes(data_dir: str, names) -> int:
    return sum(os.path.getsize(f"{data_dir}/{n}.parquet") for n in names)
