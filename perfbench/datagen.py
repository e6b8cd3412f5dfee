"""Seeded input tables for the benchmark.

Every table the package's loaders know (``tables.TABLE_NAMES``) is written
as one parquet file per table, with the column names and types that
``tables.assert_contract`` and the catalog queries expect. All values are
a pure function of the seed and the sizes; nothing is read from outside
the benchmark.

The documents follow the shape of the sf0.1 test corpus: uniform
words from a 30-word vocabulary, 10 to 99 words a document, about 40%
``en``, 20 sources assigned round-robin. A seeded share of documents are
near-duplicates of an earlier original document (its text plus ``dup``,
sometimes cut short), and half as many again are byte-for-byte copies,
so both the exact and the near-duplicate stages of the corpus pipeline
have work.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# table sizes per unit of scale; scale 1.0 matches the sf0.01 test tables
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "embeddings": 200}


def near_dup_share(seed: int) -> float:
    """The seed fixes the share of injected near-duplicates: 2% to 4%."""
    return 0.02 + 0.01 * (seed % 3)


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    share = near_dup_share(seed)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < share:
            # a near-duplicate of an original: its text plus "dup",
            # sometimes cut short; clusters stay stars around originals
            text = texts[originals[int(rng.integers(0, len(originals)))]] + " dup"
            if rng.random() < 0.25 and len(text) > 80:
                text = text[:int(rng.integers(60, len(text)))]
        elif originals and rng.random() < share / 2:
            # a byte-for-byte copy, for the exact-dedup stage
            text = texts[originals[int(rng.integers(0, len(originals)))]]
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            text = " ".join(VOCAB[w] for w in words)
            originals.append(i)
        texts.append(text)
    lang = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    epoch = (base - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _days(rng, lo: datetime, hi: datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    return _ts(lo, rng.integers(0, span, n) * 86_400_000_000)


def relational(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus the ``events`` stream."""
    rng = np.random.default_rng([seed, 2])
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    adj = np.array(["large", "hot", "red", "blue", "cold", "small"])
    noun = np.array(["ring", "bolt", "anvil", "plate", "gear"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart),
                                              rng.choice(noun, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 2), no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 5), nl)})
    ne = n["events"]
    month_us = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, ne))),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    vecs = centers[label] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    """Write each table as ``<name>.parquet``; returns a digest of the
    written bytes, the key under which derived results are cached."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]
