"""Seeded batch tables for the batch leaves (``leaves.py``).

Same names, columns and types as the tables ``__spark_entry__.queries()``
reads (``region nation customer orders lineitem events documents
embeddings``), at the row counts of the repository's sf0.01 test data,
with value domains close to it: the 30-word documents vocabulary with its
labels, a share of near-duplicate documents, clustered unit embeddings, a
month of events.
Every value is drawn from ``numpy.random.default_rng(seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small", "slow",
    "merge", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
EMBED_DIM = 64


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append("dup")
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + 0.8 * rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(np.clip(rng.exponential(50.0, n), 0.01, 490.0), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _tpch(rng) -> dict[str, pa.Table]:
    nc, no, nl = ROWS["customer"], ROWS["orders"], ROWS["lineitem"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist(), pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist(), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), pa.float64()),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist(), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], nl).tolist(), pa.string()),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }),
    }


def generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out = _tpch(rng)
    out["events"] = _events(rng)
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """One parquet file per table, ``<out_dir>/<name>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
