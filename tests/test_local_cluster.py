"""Multi-JVM validation under ``local-cluster[2,4,2048]`` (r7 verdict #5).

Everything else in the suite runs in ONE JVM (``local[n]``), where two
claims are never actually exercised:

- the session factory's heartbeat overrides must NOT apply on non-single-JVM
  masters (a dead executor is a real failure mode there — Spark's default
  detection must stay);
- the store protocol (the LogStore's explicit-file-list reads) must behave
  when the processes SCANNING the files are different JVMs than the driver
  that committed them — i.e. real executor-side file reads of freshly
  committed paths, plus a registry query end-to-end.

The scenario runs in a SUBPROCESS: a local-cluster SparkSession cannot
coexist with the suite's session fixture (getOrCreate would return the
local[n] one), and executor JVM spin-up belongs outside the shared
session. Skips cleanly where the platform cannot launch executor JVMs.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCENARIO = r"""
import os, sys
sys.path.insert(0, os.environ["LC_REPO"])
os.environ["MASTER"] = "local-cluster[2,4,2048]"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

from pyspark.sql import functions as F
from eth_indexer_spark.session import get_spark

spark = get_spark("local-cluster-validation", cpus=8)
assert spark.sparkContext.master.startswith("local-cluster"), spark.sparkContext.master

# 1. the single-JVM heartbeat overrides must NOT be applied here: a
#    multi-JVM deployment keeps Spark's default dead-executor detection
#    (session.py gates on the master VALUE; local-cluster is excluded)
assert spark.conf.get("spark.network.timeout", "UNSET") == "UNSET"
assert spark.conf.get("spark.executor.heartbeatInterval", "UNSET") == "UNSET"

root = os.environ["LC_TMP"]

# 2. LogStore: write -> overwrite -> retract with EXECUTOR-side scans of
#    the commit log's explicit file lists between each mutation, and a
#    snapshot pinned across the retraction (prevention holds cross-process)
from eth_indexer_spark.sinks.logstore import LogStore

def headers(numbers):
    return spark.createDataFrame(
        [(f"h{n}", f"h{n-1}", n, 100 + n) for n in numbers],
        "hash string, parent_hash string, number long, difficulty long",
    )

ls = LogStore(spark, os.path.join(root, "ls"))
ls.write_blocks({"block_headers": headers(range(100, 120))})
assert ls.read("block_headers").count() == 20
ls.write_blocks({"block_headers": headers([105])}, block_range=(105, 109))
got = sorted(r["number"] for r in ls.read("block_headers").collect())
assert got == list(range(100, 106)) + list(range(110, 120)), got
pin = ls.snapshot()
ls.retract_blocks(110, 114, tables=("block_headers",))
assert ls.read("block_headers").count() == 11
assert ls.read_version() == 109  # the retraction rewound the boundary
with pin.guard():  # pinned file set
    assert len(pin.read("block_headers").collect()) == 16

# 3. one registry query end-to-end at the smoke SF
import __spark_entry__ as entrymod

rows = entrymod.queries()["q1_pricing_summary"](spark, os.environ["LC_SF"]).collect()
assert len(rows) == 6, len(rows)

spark.stop()
print("LC-OK")
"""


@pytest.mark.local_cluster
def test_store_and_query_under_local_cluster(tmp_path):
    if sys.platform != "linux" or not os.environ.get("JAVA_HOME"):
        pytest.skip("local-cluster needs Linux + JAVA_HOME (executor JVMs)")
    script = tmp_path / "lc_scenario.py"
    script.write_text(_SCENARIO)
    env = dict(
        os.environ,
        LC_REPO=REPO,
        LC_TMP=str(tmp_path / "stores"),
        LC_SF=os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001"),
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    if proc.returncode != 0 and "java.io.IOException: Cannot run program" in (
        proc.stderr or ""
    ):
        pytest.skip("platform cannot launch executor JVMs")
    assert proc.returncode == 0, f"stderr tail:\n{(proc.stderr or '')[-3000:]}"
    assert "LC-OK" in proc.stdout
