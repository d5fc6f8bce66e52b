"""A winning fork publishes as one commit: ingest against chaingen's
independent ``Ledger`` (perfbench/chaingen.py, plain Python ints, no Spark).

Each test builds the same seeded history (two 30-block batches, subscriptions
stamped at block 30), then hands the ingestor a winning fork and compares the
stored headers, total difficulty, balances and group totals at the head with
the ledger of the winning branch.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from eth_indexer_spark.schema import RAW_SCHEMAS
from eth_indexer_spark.sinks.logstore import LogStore
from eth_indexer_spark.sources.blocks import PandasBlockSource
from eth_indexer_spark.streaming.ingest import MAX_BLOCKS_PER_BATCH, BlockIngestor
from tests.test_logstore import _commit_versions

# chaingen lives with the benchmark; appended, so it shadows no module
sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
import chaingen as cg  # noqa: E402

SEED = 5
HISTORY = 30  # blocks per history batch; the subscriptions stamp at its head


def _chain():
    """The seeded chain and its two history batches (deterministic, so
    every test rebuilds the same blocks and hashes)."""
    chain = cg.Chain(cg.World(SEED))
    rng = np.random.default_rng(SEED)
    return chain, rng, [chain.extend(rng, HISTORY) for _ in range(2)]


@pytest.fixture()
def small_chain(monkeypatch):
    monkeypatch.setattr(cg, "TXS_PER_BLOCK", 5)
    monkeypatch.setattr(cg, "BATCH_BLOCKS", HISTORY)


@pytest.fixture(scope="module")
def history_store(spark, tmp_path_factory):
    """A store holding the two history batches, ingested once per module."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(cg, "TXS_PER_BLOCK", 5)
        m.setattr(cg, "BATCH_BLOCKS", HISTORY)
        chain, _rng, steps = _chain()
        root = str(tmp_path_factory.mktemp("fork-history") / "store")
        ing = BlockIngestor(
            spark,
            LogStore(spark, root),
            _source(spark, chain),
            spark.createDataFrame(chain.world.subscriptions(), RAW_SCHEMAS["subscriptions"]),
            spark.createDataFrame(chain.world.erc20(), RAW_SCHEMAS["erc20"]),
        )
        assert [ing.process_headers(s.incoming) for s in steps] == ["bootstrap", "append"]
    return root


def _source(spark, chain):
    f = chain.frames()
    return PandasBlockSource(spark, f["headers"], f["transactions"], f["receipts"], f["logs"])


def _history(spark, history_store: str, root: str):
    """A copy of the history store, the chain it holds and an ingestor
    over it that reads its subscriptions from the store."""
    chain, rng, _steps = _chain()
    shutil.copytree(history_store, root)
    store = LogStore(spark, root)
    ing = BlockIngestor(
        spark,
        store,
        _source(spark, chain),
        store.read("subscriptions"),
        spark.createDataFrame(chain.world.erc20(), RAW_SCHEMAS["erc20"]),
    )
    return chain, rng, ing.source, store, ing


def _fork(chain, rng, source, monkeypatch, depth: int, branch: int):
    monkeypatch.setattr(cg, "BATCH_BLOCKS", branch)
    step = chain.fork(rng, depth)
    f = chain.frames(set(chain.blocks) - set(source.headers["hash"]))
    source.extend(f["headers"], f["transactions"], f["receipts"], f["logs"])
    return step


def _latest(store, table, keys):
    w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
    rows = (
        store.read(table).withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).select(*keys, "balance").collect()
    )
    return {tuple(r[k] for k in keys): int(r["balance"]) for r in rows}


def _assert_matches(chain, store, step, stamp: int) -> None:
    headers = sorted(
        (r["number"], r["hash"]) for r in store.read("block_headers").select("number", "hash").collect()
    )
    assert headers == list(enumerate(step.canonical, start=1))
    assert store.read_version() == len(step.canonical)
    td, want_td = {}, 0
    for r in store.read("total_difficulty").collect():
        td[r["block"]] = int(r["td"])
    for n, h in enumerate(step.canonical, start=1):
        want_td += int(chain.blocks[h].header["difficulty"])
        assert td[n] == want_td, f"total difficulty at {n}"
    ledger = cg.Ledger(chain, step.canonical, stamp)
    assert _latest(store, "balances", ["token", "address"]) == ledger.balances_at_head()
    got_t = _latest(store, "total_balances", ["token", "group"])
    want_t = ledger.totals_at_head()
    assert {k: got_t.get(k, 0) for k in got_t.keys() | want_t.keys()} == {
        k: want_t.get(k, 0) for k in got_t.keys() | want_t.keys()
    }
    assert store.read("reorgs").count() == 1


def test_one_chunk_fork_adds_one_log_version(
    spark, tmp_path, monkeypatch, small_chain, history_store
):
    """The retraction, the reorgs row, the chunk and the latest-state
    dimensions land as ONE log version, and a snapshot pinned before the
    fork still reads the old branch at the old head."""
    chain, rng, source, store, ing = _history(spark, history_store, str(tmp_path / "store"))
    old = sorted(
        (r["number"], r["hash"]) for r in store.read("block_headers").select("number", "hash").collect()
    )
    pinned = store.snapshot()
    before = _commit_versions(store)
    step = _fork(chain, rng, source, monkeypatch, depth=4, branch=10)

    assert ing.process_headers(step.incoming) == "reorg"
    assert len(_commit_versions(store)) == len(before) + 1
    _assert_matches(chain, store, step, HISTORY)
    assert pinned.read_version() == 2 * HISTORY
    assert sorted(
        (r["number"], r["hash"]) for r in pinned.read("block_headers").select("number", "hash").collect()
    ) == old


def test_fork_deeper_than_a_chunk_replays_in_two_commits(
    spark, tmp_path, monkeypatch, small_chain, history_store
):
    """A 60-block winning branch from block 5 replays in two chunks. The
    first retracts the losing branch through the old head (above its own
    top) and resets every subscription stamped on it; the second appends.
    The subscriptions re-stamp at the first chunk's head."""
    chain, rng, source, store, ing = _history(spark, history_store, str(tmp_path / "store"))
    before = _commit_versions(store)
    step = _fork(chain, rng, source, monkeypatch, depth=2 * HISTORY - 5, branch=60)
    assert 60 > MAX_BLOCKS_PER_BATCH

    assert ing.process_headers(step.incoming) == "reorg"
    assert len(_commit_versions(store)) == len(before) + 2
    stamp = 5 + MAX_BLOCKS_PER_BATCH
    assert {r["block_number"] for r in store.read("subscriptions").collect()} == {stamp}
    _assert_matches(chain, store, step, stamp)


def test_fork_staging_failure_keeps_old_branch_and_resend_converges(
    spark, tmp_path, monkeypatch, small_chain, history_store
):
    """A staging failure inside the fork's one commit publishes nothing:
    the old head and branch stay, and resending the fork converges."""
    chain, rng, source, store, ing = _history(spark, history_store, str(tmp_path / "store"))
    old = sorted(
        (r["number"], r["hash"]) for r in store.read("block_headers").select("number", "hash").collect()
    )
    before = _commit_versions(store)
    step = _fork(chain, rng, source, monkeypatch, depth=6, branch=10)

    real = LogStore._stage_files

    def fail_reorgs(self, table, df):
        if table == "reorgs":
            raise OSError("simulated staging failure")
        return real(self, table, df)

    with monkeypatch.context() as m:
        m.setattr(LogStore, "_stage_files", fail_reorgs)
        with pytest.raises(OSError, match="simulated staging failure"):
            ing.process_headers(step.incoming)
    assert _commit_versions(store) == before
    assert store.read_version() == 2 * HISTORY
    assert sorted(
        (r["number"], r["hash"]) for r in store.read("block_headers").select("number", "hash").collect()
    ) == old

    assert ing.process_headers(step.incoming) == "reorg"
    _assert_matches(chain, store, step, HISTORY)
