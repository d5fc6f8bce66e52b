"""The ingest batch runs in the JVM: a bootstrap batch (new subscriptions,
ledger-derived openings), a winning fork, a token registration and a read
of an empty block range start no Python worker, and the bootstrap and the
fork each run a bounded number of Spark jobs.

A Python worker (``pyspark.daemon``) is a child process of the driver JVM.
Starting it is a cold import of pandas and pyarrow that every batch would
pay on a fresh worker, so the batch path keeps every step in the JVM:
the ABI decode is a JVM expression and driver-built frames cross as
Arrow. The scenario runs in a SUBPROCESS with its own fresh session: the
suite's shared session has long since started workers for other tests.

The bootstrap's and the fork's job counts (each in its own job group) are
exact run to run, so a driver collect or probe job put back into the batch
path fails this test.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCENARIO = r"""
import glob, os, sys
repo = os.environ["JB_REPO"]
sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

import numpy as np
import chaingen as cg

cg.TXS_PER_BLOCK = 5
cg.BATCH_BLOCKS = 10

from pyspark.sql import Window as W
from pyspark.sql import functions as F
from eth_indexer_spark.schema import RAW_SCHEMAS
from eth_indexer_spark.session import get_spark
from eth_indexer_spark.sinks.logstore import LogStore
from eth_indexer_spark.sources.blocks import PandasBlockSource
from eth_indexer_spark.streaming.ingest import BlockIngestor

spark = get_spark("jvm-only-batch", cpus=2)
jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()


def python_workers():
    kids = set()
    for path in glob.glob(f"/proc/{jvm_pid}/task/*/children"):
        try:  # a JVM thread may exit between the glob and the read
            with open(path) as fh:
                kids.update(fh.read().split())
        except OSError:
            continue
    found = []
    for pid in kids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode()
        except OSError:
            continue
        if "pyspark.daemon" in cmd:
            found.append(cmd)
    return found


chain = cg.Chain(cg.World(7))
rng = np.random.default_rng(7)
steps = [chain.extend(rng) for _ in range(2)]
fork = chain.fork(rng, 4)
f = chain.frames()
source = PandasBlockSource(spark, f["headers"], f["transactions"], f["receipts"], f["logs"])
store = LogStore(spark, os.environ["JB_STORE"])
ing = BlockIngestor(
    spark, store, source,
    spark.createDataFrame(chain.world.subscriptions(), RAW_SCHEMAS["subscriptions"]),
    spark.createDataFrame(chain.world.erc20(), RAW_SCHEMAS["erc20"]),
    balancer=None,
)
sc = spark.sparkContext


def in_group(group, headers):
    sc.setJobGroup(group, group)
    try:
        return ing.process_headers(headers)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


actions = [in_group("jvm-batch-bootstrap", steps[0].incoming)]
actions.append(ing.process_headers(steps[1].incoming))
actions.append(in_group("jvm-batch-fork", fork.incoming))
assert actions == ["bootstrap", "append", "reorg"], actions
boot_jobs = len(sc.statusTracker().getJobIdsForGroup("jvm-batch-bootstrap"))
assert boot_jobs <= MAX_BOOTSTRAP_JOBS, (
    f"the bootstrap ran {boot_jobs} Spark jobs (at most {MAX_BOOTSTRAP_JOBS})"
)
fork_jobs = len(sc.statusTracker().getJobIdsForGroup("jvm-batch-fork"))
assert fork_jobs <= MAX_FORK_JOBS, f"the fork ran {fork_jobs} Spark jobs (at most {MAX_FORK_JOBS})"
assert store.read_range("block_headers", 10**6, 10**6 + 5).collect() == []

check_proc = os.path.isdir(f"/proc/{jvm_pid}/task")
workers = python_workers() if check_proc else []
assert not workers, f"the batches started Python workers: {workers}"

stored = sorted(
    (r["number"], r["hash"]) for r in store.read("block_headers").select("number", "hash").collect()
)
assert stored == list(enumerate(fork.canonical, start=1)), "stored headers differ from the fork"


def latest(table, keys):
    w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
    rows = (
        store.read(table).withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).select(*keys, "balance").collect()
    )
    return {tuple(r[k] for k in keys): int(r["balance"]) for r in rows}


ledger = cg.Ledger(chain, fork.canonical, cg.BATCH_BLOCKS)
assert latest("balances", ["token", "address"]) == ledger.balances_at_head(), "balances differ"
got_t = latest("total_balances", ["token", "group"])
want_t = ledger.totals_at_head()
assert all(got_t.get(k, 0) == want_t.get(k, 0) for k in got_t.keys() | want_t.keys()), "totals differ"

# re-register one of the chain's tokens at the head: its group totals are
# backfilled from the stored balances on the fast path, in the JVM
token = chain.world.erc20()["address"].iloc[0]
ing.register_token(token, name="Again", total_supply="1", decimals=18)
got_t = latest("total_balances", ["token", "group"])
assert all(
    got_t.get(k, 0) == want_t.get(k, 0) for k in got_t.keys() | want_t.keys() if k[0] == token
), "re-registered token's totals differ"
workers = python_workers() if check_proc else []
assert not workers, f"register_token started Python workers: {workers}"
if check_proc:
    # the probe itself sees a worker once one exists
    spark.range(1).select(F.udf(lambda x: x, "long")("id")).collect()
    assert python_workers(), "no pyspark.daemon found after a Python UDF ran"
spark.stop()
print(
    "JB-OK", "proc-checked" if check_proc else "proc-skipped",
    "bootstrap-jobs", boot_jobs, "fork-jobs", fork_jobs,
)
"""
# Spark jobs of the scenario's winning fork (one chunk: retraction, reorgs
# row, batch and latest-state dimensions in one commit), as measured
MAX_FORK_JOBS = 67
# Spark jobs of the scenario's bootstrap batch (new subscriptions with
# ledger-derived openings, one commit), as measured
MAX_BOOTSTRAP_JOBS = 50


def test_bootstrap_and_fork_batches_start_no_python_worker(tmp_path):
    script = tmp_path / "jvm_batch_scenario.py"
    script.write_text(
        f"MAX_FORK_JOBS = {MAX_FORK_JOBS}\nMAX_BOOTSTRAP_JOBS = {MAX_BOOTSTRAP_JOBS}\n"
        + _SCENARIO
    )
    env = dict(os.environ, JB_REPO=REPO, JB_STORE=str(tmp_path / "store"))
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, f"stderr tail:\n{(proc.stderr or '')[-3000:]}"
    assert "JB-OK" in proc.stdout, proc.stdout
