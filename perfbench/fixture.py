"""Synthetic catalog fixture: the ten tables the catalog queries read, with
the schemas, key chains and value ranges of the project's test fixtures
(FIXTURES.md), generated from a fixed seed into the benchmark's work
directory.

The benchmark may read only inside its own checkout, so it cannot use the
shared fixture directories; this generator stands in for them at a small
scale factor. The seed is fixed: every run sees the same tables, and the
workload seed only permutes the order of the catalog keys.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
_ADJ = ("small", "red", "blue", "hot", "cold", "green", "large", "shiny")
_NOUN = ("ring", "widget", "bolt", "rod", "gear", "nut", "pipe", "valve")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # Whole cents, as the fixtures store them.
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def generate(directory: Path) -> None:
    """Write ``<table>.parquet`` for every table, at the sf0.001 row counts
    (150 customers, 6,000 line items, 500 documents)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    directory.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    n_doc, n_emb = 500, 500

    def write(name: str, columns: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(columns), directory / f"{name}.parquet")

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)], s),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10.0 for i in range(n_part)], f64),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n_ord)], s),
    })
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), ts),
    })
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = 30 * 86400 * 10**6 - 1
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": pa.array(kinds[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev), f64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], s),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # Near duplicate: an earlier document plus a marker token.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(8, 92)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


def ensure(work: Path) -> Path:
    """The fixture's directory under ``work``, generated on first use.

    The directory is named after a hash of this file, so a changed
    generator gets a fresh fixture (and fresh cached oracle answers, which
    live beside it) instead of a stale one.
    """
    digest = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    directory = work / f"fixture-{digest}"
    stamp = directory / "_complete"
    if not stamp.exists():
        generate(directory)
        stamp.touch()
    return directory
