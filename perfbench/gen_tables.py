"""Seeded parquet tables for the query workload.

The registry queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` (TESTDATA.md).  This writes the tables
those queries touch, with the same column names and types and sf-scaled
row counts, so the benchmark needs nothing outside its own checkout.
``scale=0.1`` gives the sf0.1 row counts (600k lineitem rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the queries the workload runs read exactly these
TABLES = ("nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table of :data:`TABLES` under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)

    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, "1992-01-01", 3500),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        },
    )
    lines = rng.integers(1, 8, n_orders)  # 1..7 lines, 4 on average
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_orderkey)
    line_no = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, int(200_000 * scale), n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * scale), n_li, dtype=np.int64),
            "l_linenumber": pa.array(line_no.astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1992-01-02", 3600),
        },
    )
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + rng.integers(0, 30 * 86_400 * 1_000_000, n_events).astype("timedelta64[us]")
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, int(15_000 * scale), n_events, dtype=np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.gamma(4.0, 25.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )
    n_tok = rng.integers(8, 100, n_docs)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_tok.sum()))]
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(n_tok)[:-1])]
    _write(
        out_dir,
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.integers(0, 5, n_docs)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.8, (n_vecs, 64))) / 8.0
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        },
    )
    return {
        "nation": 25,
        "customer": n_cust,
        "orders": n_orders,
        "lineitem": n_li,
        "events": n_events,
        "documents": n_docs,
        "embeddings": n_vecs,
    }
