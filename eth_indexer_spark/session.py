"""SparkSession factory.

One place to encode the execution-model decisions that matter at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalescing makes the static number a ceiling, not a target.
- UTC session timezone so timestamps compare bit-exactly against the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas/Pandas-UDF boundary.
- Driver heap sized to the host (see ``_default_driver_memory``): in local
  mode every task runs inside the driver JVM, and a heap ceiling above
  physical memory lets the JVM grow until the kernel kills it.
- Top-K sort falls back to a spilling global sort above
  ``TOPK_SORT_FALLBACK_ROWS``: ``TakeOrderedAndProject`` allocates a
  2·limit-slot buffer per task up front, so ``limit(10**9)`` (an "all rows,
  ordered" top-k) would zero gigabytes of heap in every task.
- Broadcast threshold left at default (10 MB) — dimension tables in this
  engine (erc20 registry, subscriptions, region/nation) are far below it; we
  still hint ``F.broadcast`` explicitly at every intentional broadcast join so
  the plan does not silently regress when a dim grows.
"""

from __future__ import annotations

import os

from pyspark.errors import SparkRuntimeException
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
DRIVER_MEMORY_CEILING_MB = 24 * 1024
# share of physical memory the driver heap may claim; the rest is left to
# off-heap buffers, the Python workers and the OS page cache
DRIVER_MEMORY_HOST_FRACTION = 0.4
TOPK_SORT_FALLBACK_ROWS = 1_000_000


def _default_driver_memory() -> str:
    """24g, or ``DRIVER_MEMORY_HOST_FRACTION`` of physical memory when that
    is smaller. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    try:
        host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return f"{DRIVER_MEMORY_CEILING_MB}m"
    return f"{max(1024, min(DRIVER_MEMORY_CEILING_MB, int(host_mb * DRIVER_MEMORY_HOST_FRACTION)))}m"


def get_spark(
    app_name: str = "eth_indexer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``cpus`` controls both ``local[N]`` parallelism and the shuffle-partition
    count. On a cluster deployment the caller passes master/shuffle settings
    via ``extra_conf`` instead; nothing here assumes single-node.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config(
            "spark.sql.execution.topKSortFallbackThreshold",
            str(TOPK_SORT_FALLBACK_ROWS),
        )
    )
    env_master = os.environ.get("MASTER") or os.environ.get("SPARK_MASTER")
    if not env_master:
        builder = builder.master(f"local[{n}]")
    master_val = env_master or "local"
    if master_val == "local" or master_val.startswith("local["):
        # Long-session robustness, SINGLE-JVM LOCAL MASTER ONLY — gated on
        # the master VALUE, not env presence, so MASTER=local[16] (a normal
        # way to pick local parallelism) keeps the fix, while
        # ``local-cluster[n,c,m]`` (multi-JVM: separate executor processes,
        # where a dead executor is a real failure mode) keeps Spark's
        # default heartbeat detection: in local mode driver
        # and executor share one JVM, so a heartbeat RPC failure can ONLY
        # mean transient dispatcher/VM stall — yet the executor self-exits
        # after maxFailures misses, killing every later query in the
        # session (observed twice ~5000 stages into a full-suite run:
        # heartbeats start failing with the endpoint-verifier unable to
        # resolve the driver ref while tasks keep succeeding, then "Exit as
        # unable to send heartbeats" cascades ConnectionRefused over
        # everything after). A 60s interval × 60 tolerated misses rides out
        # any realistic stall; both keep heartbeatInterval << network
        # timeout as Spark requires. On a REAL cluster these values would
        # delay dead-executor detection by up to 10 minutes, so they are
        # deliberately NOT applied to non-local masters — cluster
        # deployments keep Spark's defaults (or set their own via
        # ``extra_conf``, which is applied after and overrides these).
        builder = builder.config("spark.network.timeout", "600s").config(
            "spark.executor.heartbeatInterval", "60s"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def raised_message(e: Exception) -> str | None:
    """The message a ``raise_error`` put into a failed Spark job, or None
    when ``e`` is any other failure."""
    if isinstance(e, SparkRuntimeException) and e.getCondition() == "USER_RAISED_EXCEPTION":
        return (e.getMessageParameters() or {}).get("errorMessage")
    return None
