"""Table catalog: loaders for the driver-generated testdata.

The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings`` (vectors).
These proxy the reference's catalog for the DuckDB-oracle correctness gate;
the domain-shaped tables of SURVEY §1.4 are generated by ``tests/fixtures.py``
and loaded via :mod:`eth_indexer_spark.sources.chain`.

Loads are plain ``spark.read.parquet`` — schema comes from the files, filters
and projections push down via Catalyst (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).

TIMESTAMP_NTZ policy (engine-wide): parquet event-time columns may surface
as TIMESTAMP (ns-stored files converted below), or as TIMESTAMP_NTZ (modern
Spark µs parquet inference). Operators therefore never assume TimestampType:
event-time arithmetic uses timestamp subtraction (→ DayTimeInterval, legal
for both types) rather than numeric casts, and the one API that REQUIRES
TimestampType — ``withWatermark`` — casts NTZ→TIMESTAMP at the operator
boundary, lossless because the session TZ is pinned to UTC (session.py).
See streaming/windows.py for both patterns.
"""

from __future__ import annotations

import functools
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions a planner should always broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@functools.lru_cache(maxsize=None)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns], which Spark cannot read as
    timestamps. Footer-only read, driver-side, cached per path."""
    schema = pq.read_schema(path)
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


#: Session-scoped relation cache: (session id, resolved path) -> DataFrame.
#: ``spark.read.parquet`` on a bare path re-lists files and re-infers the
#: schema from footers on EVERY call (~70-100 ms of driver work per table)
#: — path-based reads get none of the relation caching Spark gives catalog
#: tables resolved via ``spark.table``. A DataFrame is an immutable lazy
#: plan, so handing every caller the same relation object is exactly the
#: catalog-table semantic: metadata (schema + file listing) is pinned at
#: first load for the session, while every action still scans the parquet
#: files themselves. The testdata dirs are immutable per session; a writer
#: that mutated files under a cached path mid-session would need
#: :func:`clear_table_cache` (same staleness contract as Spark's own
#: catalog relation cache, which ships REFRESH TABLE for that reason).
#: Keyed by ``id(spark)`` like ``operators.dedup._SPLIT_CONF_CACHE`` — one
#: py4j round trip per lookup otherwise.
_TABLE_CACHE: dict[tuple[int, str], DataFrame] = {}


def clear_table_cache() -> None:
    """Drop every cached relation (test/maintenance hook; see _TABLE_CACHE)."""
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    Nanosecond-timestamp columns are read as raw int64
    (``spark.sql.legacy.parquet.nanosAsLong``) and converted to microsecond
    timestamps with integer division — bit-identical to DuckDB's own
    ns→µs truncation, so oracle comparisons stay exact. The conversion is a
    projection on top of the scan; filter pushdown on the remaining columns
    is unaffected.

    The constructed relation is memoized per (session, path) — see
    ``_TABLE_CACHE``.
    """
    if name not in TPCH_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TPCH_TABLES}")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    key = (id(spark), path)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    _TABLE_CACHE[key] = df
    return df
