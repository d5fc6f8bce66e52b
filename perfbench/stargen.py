"""Seeded star schema for the analytics workload.

The registry queries (``__spark_entry__.queries()``) read ten parquet tables:
a TPC-H-like star (``region`` … ``lineitem``) plus ``events``, ``documents``
and ``embeddings``. This module writes them from a seed, with the column
names, types and value domains of the repository's correctness-gate data
(TESTDATA.md), so a run needs nothing outside the checkout. Nothing here
imports Spark or the indexer.

Why the sizes and shapes:

- Row counts follow the TPC-H ratios at scale factor ``SF`` 0.01 (1 500
  customers, 100 suppliers, 2 000 parts, 15 000 orders, 60 000 line items;
  events 10 000, documents and embeddings 500 each), the scale the
  repository's DuckDB correctness gate uses. A pass over the 23 queries
  then costs about as much as one at sf0.001 (measured: 11.7 s against
  13.3 s warm on 4 cores), because fixed per-query planning and job
  overhead dominates; a larger scale would lengthen every run without
  changing which layer does the work.
- Value domains copy the gate data: uniform keys and categories, prices to
  two decimals, dates over 1995-2001, events over 30 days of 2024 for 150
  users, documents of 10-99 words over a 30-word vocabulary with about 5 %
  near-duplicates (an earlier document plus one or two ``dup`` words), and
  unit-norm 64-d float32 embeddings with 10 labels. The gate data is
  itself synthetic and uniform; these are its shapes, not measured ones.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 150
N_DOCS = 500
DUP_SHARE = 0.05
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
EMBED_DIM = 64
N_LABELS = 10
ORDER_DAYS = (datetime(1995, 1, 1), datetime(2001, 8, 1))
SHIP_DAYS = (datetime(1995, 1, 2), datetime(2001, 11, 4))
EVENTS_FROM = datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _days(rng, n: int, span: tuple[datetime, datetime]) -> np.ndarray:
    lo = np.datetime64(span[0], "D")
    width = (np.datetime64(span[1], "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, width, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int) -> dict[str, pd.DataFrame]:
    """Every table, as pandas frames; the same seed gives identical frames."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_line = int(6_000_000 * SF)
    n_ev = int(1_000_000 * SF)
    i32 = np.int32
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": (np.arange(N_NATIONS) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, N_NATIONS, n_supp).astype(i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, ORDER_DAYS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, SHIP_DAYS),
    })
    offs = np.sort(rng.uniform(0, EVENT_SPAN_S, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64(EVENTS_FROM, "us") + (offs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng)
    vec = rng.standard_normal((N_DOCS, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(N_DOCS, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, N_LABELS, N_DOCS).astype(i32),
    })
    return t


def _documents(rng) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < DUP_SHARE:  # near-duplicate of an earlier one
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<table>.parquet`` per table, timestamps in microseconds."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            coerce_timestamps="us",
        )
