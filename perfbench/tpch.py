"""Seeded generator for the operator-suite tables.

Writes the ten tables the named queries in ``data_profiler_spark.queries``
read (``region nation customer supplier part orders lineitem events
documents embeddings``), one single-row-group parquet file each, with the
schema and value shapes of the engine's sf0.01 test tables: TPC-H-like star
schema, a January event stream, a 500-document corpus over a 30-word
vocabulary with 5% near-duplicates (another document's text plus " dup"),
and 64-dimensional unit embeddings in 10 labelled clusters.

numpy and pyarrow only: no Spark session is started, and the same seed
gives the same bytes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150, "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _day(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    parts = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": parts,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _day(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])],
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _day(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), rng.integers(10, 101)))
        for _ in range(d)
    ]
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, d, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 1.0, (v, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write(seed: int, out_dir: Path) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
