"""End-to-end ingest + reorg tests (SURVEY §2.9, §7.5-6): the EP1 lifecycle
over fixture chains, asserted against the independent golden model — the
strategy of service/indexer/indexer_test.go:58-1246 (sequential insert, gap
backfill, duplicate/old-block skip, reorg on winning fork, losing fork
ignored) without mocks: a real store, real pipeline, real decision logic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.sinks.logstore import LogStore
from eth_indexer_spark.sources.blocks import PandasBlockSource
from eth_indexer_spark.streaming.ingest import BlockIngestor, start_stream
from eth_indexer_spark.streaming.reorg import check_reorg
from tests.fixtures import (
    A3,
    A9,
    BLOCKS,
    RAW_SCHEMAS,
    build_raw,
    expected_model,
    truth_balancer,
)

# fork branch: replaces main-chain blocks 104-105 with heavier blocks carrying
# different transfers (same tuple shape as fixtures.BLOCKS)
FORK_BLOCKS = [
    (104, A9, 500, [("f104", A3, A9, 42, 6, 7)], [], []),
    (105, A3, 500, [], [], []),
]


def _mk(spark, tmp_path, raw_pdfs, balancer="truth"):
    """Build an ingestor over fixture raw tables. The BALANCER path is the
    default — opening balances come from the chain-truth lookup, matching
    the reference's deploy shape (client/balancer.go:43-116); pass
    ``balancer=None`` to exercise the explicit ledger-derived fallback."""
    store = LogStore(spark, str(tmp_path / "store"))
    source = PandasBlockSource(
        spark,
        raw_pdfs["block_headers_raw"],
        raw_pdfs["transactions"],
        raw_pdfs["transaction_receipts"],
        raw_pdfs["receipt_logs"],
        transfer_logs=raw_pdfs.get("transfer_logs"),
    )
    subs = spark.createDataFrame(raw_pdfs["subscriptions"], RAW_SCHEMAS["subscriptions"])
    erc20 = spark.createDataFrame(raw_pdfs["erc20"], RAW_SCHEMAS["erc20"])
    if balancer == "truth":
        balancer = truth_balancer()
    ing = BlockIngestor(spark, store, source, subs, erc20, balancer=balancer)
    # seed the store's balances with the fixture seed rows (the "state before
    # this indexer started"), matching the golden model's seeding
    store.write_blocks(
        {"balances": spark.createDataFrame(raw_pdfs["seed_balances"], RAW_SCHEMAS["seed_balances"])}
    )
    return store, source, ing


def headers_of(raw_pdfs, numbers):
    pdf = raw_pdfs["block_headers_raw"]
    return [r.to_dict() for _, r in pdf[pdf["number"].isin(numbers)].iterrows()]


def assert_state_matches(store, model, n_blocks_from=100):
    snaps = {
        (r["token"], r["block_number"], r["address"]): (int(r["balance"]), r["group"])
        for r in store.read("balances")
        .filter(F.col("block_number") >= n_blocks_from)
        .collect()
    }
    assert snaps == {(t, n, a): (b, g) for t, n, a, b, g in model["snapshots"]}

    totals = {
        (r["token"], r["block_number"], r["group"]): (
            int(r["balance"]), int(r["tx_fee"]), int(r["miner_reward"]), int(r["uncles_reward"])
        )
        for r in store.read("total_balances").collect()
    }
    assert totals == {(t, n, g): (b, f, m, u) for t, n, g, b, f, m, u in model["totals"]}

    td = {r["block"]: int(r["td"]) for r in store.read("total_difficulty").collect()}
    assert td == {n: v for n, _h, v in model["td"]}


def test_sequential_batches_match_golden(spark, tmp_path):
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)

    assert ing.process_headers(headers_of(raw, [100, 101, 102])) == "bootstrap"
    assert ing.process_headers(headers_of(raw, [103, 104, 105])) == "append"

    assert_state_matches(store, expected_model())
    assert store.read("block_headers").count() == 6
    assert store.read("transactions").count() == 5


def test_duplicate_and_old_blocks_skipped(spark, tmp_path):
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    before = store.read("balances").count()
    assert ing.process_headers(headers_of(raw, [103, 104])) == "ignore_duplicate"
    assert ing.process_headers(headers_of(raw, [105])) == "ignore_duplicate"
    assert store.read("balances").count() == before
    assert_state_matches(store, expected_model())


def test_gap_backfill(spark, tmp_path):
    """Blocks 102-103 never arrive on the stream; the ingestor must sync them
    from the source (indexer.go:218-246) before applying 104-105."""
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101]))
    assert ing.process_headers(headers_of(raw, [104, 105])) == "gap"
    assert_state_matches(store, expected_model())


def test_reorg_winning_fork(spark, tmp_path):
    raw = build_raw()
    store, source, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    # heavier fork branching off block 103
    b103_hash = headers_of(raw, [103])[0]["hash"]
    fork = build_raw(blocks=FORK_BLOCKS, prefix="c", fork_parent=(104, b103_hash))
    source.extend(
        fork["block_headers_raw"], fork["transactions"],
        fork["transaction_receipts"], fork["receipt_logs"],
        transfer_logs=fork["transfer_logs"],
    )

    assert ing.process_headers(headers_of(fork, [104, 105])) == "reorg"

    # audit row (model/types.go:257-263)
    reorgs = store.read("reorgs").collect()
    assert len(reorgs) == 1
    r = reorgs[0]
    assert (r["from"], r["to"]) == (104, 105)
    assert r["to_hash"] == headers_of(raw, [105])[0]["hash"]

    # canonical chain is now A[100..103] + fork[104..105]
    stored_hashes = {
        row["number"]: row["hash"] for row in store.read("block_headers").collect()
    }
    assert stored_hashes[104] == headers_of(fork, [104])[0]["hash"]
    assert stored_hashes[105] == headers_of(fork, [105])[0]["hash"]

    combined = BLOCKS[:4] + FORK_BLOCKS
    assert_state_matches(store, expected_model(blocks=combined))
    # old branch's transactions were retracted, fork's are present
    txs = {r["hash"] for r in store.read("transactions").collect()}
    assert not any(h.endswith("tx104a".encode().hex()) for h in txs)
    assert any(h.endswith("txf104".encode().hex()) for h in txs)


def test_gap_backfill_detects_reorg_below_stored_head(spark, tmp_path):
    """A reorg happens WHILE a gap forms: stored chain reaches 103, the
    stream then delivers only fork block 105' (gap at 104), and the node's
    canonical branch forked at 102. The backfilled headers must go back
    through the reorg check — blind splicing would commit an inconsistent
    chain (fork headers atop the stale 102-103) with no retraction."""
    raw = build_raw()
    store, source, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103]))

    # heavier fork branching off block 101, replacing 102-105
    fork_blocks = [
        (102, A9, 900, [("g102", A3, A9, 11, 2, 3)], [], []),
        (103, A3, 900, [], [], []),
        (104, A9, 900, [], [], []),
        (105, A9, 900, [], [], []),
    ]
    b101_hash = headers_of(raw, [101])[0]["hash"]
    fork = build_raw(blocks=fork_blocks, prefix="g", fork_parent=(102, b101_hash))
    source.extend(
        fork["block_headers_raw"], fork["transactions"],
        fork["transaction_receipts"], fork["receipt_logs"],
        transfer_logs=fork["transfer_logs"],
    )

    # the stream only ever shows the fork's head: a gap AND a fork at once
    assert ing.process_headers(headers_of(fork, [105])) == "gap"

    # the canonical chain is now main[100..101] + fork[102..105], with the
    # old 102-103 retracted and an audit row recorded
    stored_hashes = {
        row["number"]: row["hash"] for row in store.read("block_headers").collect()
    }
    for n in (102, 103, 104, 105):
        assert stored_hashes[n] == headers_of(fork, [n])[0]["hash"]
    assert store.read("reorgs").count() == 1
    assert_state_matches(store, expected_model(blocks=BLOCKS[:2] + fork_blocks))


def test_reorg_losing_fork_ignored(spark, tmp_path):
    raw = build_raw()
    store, source, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    light = [(104, A9, 1, [], [], []), (105, A3, 1, [], [], [])]
    b103_hash = headers_of(raw, [103])[0]["hash"]
    fork = build_raw(blocks=light, prefix="d", fork_parent=(104, b103_hash))
    source.extend(fork["block_headers_raw"])

    assert ing.process_headers(headers_of(fork, [104, 105])) == "ignore_losing_fork"
    assert_state_matches(store, expected_model())
    assert not store.exists("reorgs")


def test_reorg_walk_traces_below_batch(spark):
    """The fork walk must follow parent hashes through headers NOT in the
    incoming batch (indexer.go:374-405): stored chain 1..5, incoming fork
    block 5' whose ancestry 3',4' is only reachable via header_by_hash."""
    stored = {
        n: {"number": n, "hash": f"a{n}", "parent_hash": f"a{n-1}", "difficulty": 10}
        for n in range(1, 6)
    }
    branch = {
        f"c{n}": {
            "number": n,
            "hash": f"c{n}",
            "parent_hash": "a2" if n == 3 else f"c{n-1}",
            "difficulty": 100,
        }
        for n in (3, 4, 5)
    }
    d = check_reorg(
        stored,
        [branch["c5"]],
        lambda h: branch.get(h),
        lambda n: 10 * n,
    )
    assert d.action == "reorg"
    assert [h["number"] for h in d.replay] == [3, 4, 5]
    assert (d.retract_from, d.retract_to) == (3, 5)
    assert d.reorg_row == {
        "from": 3, "from_hash": "a3", "to": 5, "to_hash": "a5",
    }


def test_crash_replay_converges(spark, tmp_path):
    """Crash-recovery protocol: block_headers is the boundary marker, so a
    store whose derived tables hold a batch its headers lack has an
    unadvanced head; resending the same batch takes the append path and
    overwrite-by-range repairs every table. Simulated by retracting the
    header rows of batch 2."""
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102]))
    ing.process_headers(headers_of(raw, [103, 104, 105]))

    # crash just before the commit marker of batch 2
    store.retract_blocks(103, 105, tables=("block_headers",))
    assert store.max_block("block_headers") == 102

    # resend: must append (not ignore_duplicate) and converge to golden
    assert ing.process_headers(headers_of(raw, [103, 104, 105])) == "append"
    assert_state_matches(store, expected_model())
    assert store.read("block_headers").count() == 6
    assert store.read("transactions").select("hash").distinct().count() == 5


def test_ingest_without_state_diff_falls_back_to_tx_value(spark, tmp_path):
    """A source with no debug_getTransferLogs support (non-archive node)
    still ingests — ether events derive from tx.value, so internal transfers
    are invisible (the documented fallback semantic)."""
    raw = build_raw()
    store = LogStore(spark, str(tmp_path / "store"))
    source = PandasBlockSource(
        spark,
        raw["block_headers_raw"],
        raw["transactions"],
        raw["transaction_receipts"],
        raw["receipt_logs"],
        # no transfer_logs
    )
    subs = spark.createDataFrame(raw["subscriptions"], RAW_SCHEMAS["subscriptions"])
    erc20 = spark.createDataFrame(raw["erc20"], RAW_SCHEMAS["erc20"])
    ing = BlockIngestor(spark, store, source, subs, erc20)
    store.write_blocks(
        {"balances": spark.createDataFrame(raw["seed_balances"], RAW_SCHEMAS["seed_balances"])}
    )
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    # model without the internal transfer: strip the 7th tuple element
    no_internals = [b[:6] for b in BLOCKS]
    assert_state_matches(store, expected_model(blocks=no_internals))


def test_register_token_backfill(spark, tmp_path):
    """EP2: registering a token upserts the registry and backfills per-group
    totals from stored balances as-of the registration block, preserving
    other tokens' totals at that block."""
    from tests.fixtures import T1, ETH

    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    # pre-existing ETH total at the registration block must survive
    store.write_blocks(
        {
            "total_balances": spark.createDataFrame(
                [(ETH, 100, 1, "77", "0", "0", "0")],
                "token string, block_number long, group long, balance string, "
                "tx_fee string, miner_reward string, uncles_reward string",
            )
        }
    )

    ing.register_token(T1, name="TokenOne", at_block=100)

    reg = {r["address"]: r["block_number"] for r in store.read("erc20").collect()}
    assert reg[T1] == 100

    totals = {
        (r["token"], r["group"]): int(r["balance"])
        for r in store.read("total_balances").collect()
    }
    # groups seeded from SEED_BALANCES latest-as-of-100; ETH row preserved
    assert totals == {(T1, 1): 10**40 + 10000, (T1, 2): 50, (ETH, 1): 77}

    # per-address opening rows (new_erc20.go:41-175): latest as-of for
    # holders, 0 for non-holders — every old sub gets a row at at_block
    per_addr = {
        r["address"]: r["balance"]
        for r in store.read("balances")
        .filter((F.col("token") == T1) & (F.col("block_number") == 100))
        .collect()
    }
    from tests.fixtures import A1, A2, A3
    assert per_addr == {A1: str(10**40), A2: "10000", A3: "50"}

    # idempotent: re-registering converges to the same state
    ing.register_token(T1, name="TokenOne", at_block=100)
    totals2 = {
        (r["token"], r["group"]): int(r["balance"])
        for r in store.read("total_balances").collect()
    }
    assert totals2 == totals


# ---------------------------------------------------------------------------
# Subscription lifecycle (store/subscription/subscription.go:50,96-102,
# 131-146; store/transfer_processor.go:258-313): new-sub init + stamp,
# has-prev / missing-prev guards, reorg reset.
# ---------------------------------------------------------------------------

import pandas as pd

from tests.fixtures import ETH, T1, NOW, addr


def _with_extra_subs(raw, extra_rows):
    raw = dict(raw)
    raw["subscriptions"] = pd.concat(
        [raw["subscriptions"], pd.DataFrame(extra_rows)], ignore_index=True
    )
    return raw


A5 = addr(5)


def test_new_subscription_lifecycle(spark, tmp_path):
    """A new sub (block_number=0) with no history: opening rows of 0 are
    written for ETH and every registered token at the batch head, the sub is
    stamped, and (zero) openings do not perturb group totals."""
    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 0, "group": 3, "address": A5,
         "created_at": NOW, "updated_at": NOW}
    ])
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    stamps = {r["address"]: r["block_number"] for r in store.read("subscriptions").collect()}
    assert stamps[A5] == 105

    a5_rows = {
        (r["token"], r["block_number"]): r["balance"]
        for r in store.read("balances").filter(F.col("address") == A5).collect()
    }
    assert a5_rows == {(ETH, 105): "0", (T1, 105): "0"}

    # totals and non-A5 snapshots still match the golden model exactly
    model = expected_model()
    totals = {
        (r["token"], r["block_number"], r["group"]): int(r["balance"])
        for r in store.read("total_balances").collect()
    }
    assert totals == {(t, n, g): b for t, n, g, b, *_ in model["totals"]}


@pytest.mark.parametrize("via", ["balancer", "ledger"])
def test_new_sub_with_history_gets_opening(spark, tmp_path, via):
    """A new sub whose address HAS ledger history (A9: miner rewards, sends)
    opens at its chain balance, and that opening wealth enters its group's
    total at the stamp block — the reference's diff-from-nothing. Both
    opening paths must agree: the default balancer fan-out (chain truth,
    client/balancer.go) and the explicit balancer=None ledger-derived
    fallback (O(stored history), no-node deployments)."""
    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 0, "group": 3, "address": A9,
         "created_at": NOW, "updated_at": NOW}
    ])
    store, _src, ing = _mk(
        spark, tmp_path, raw, balancer=None if via == "ledger" else "truth"
    )
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    model = expected_model()
    want = sum(d for (t, n, a), d in model["deltas"].items() if t == ETH and a == A9)
    got = {
        (r["token"],): r["balance"]
        for r in store.read("balances")
        .filter((F.col("address") == A9) & (F.col("block_number") == 105))
        .collect()
    }
    assert got[(ETH,)] == str(want)
    assert got[(T1,)] == "0"

    t_row = store.read("total_balances").filter(
        (F.col("group") == 3) & (F.col("token") == ETH)
    ).collect()
    assert len(t_row) == 1
    assert int(t_row[0]["balance"]) == want and t_row[0]["block_number"] == 105


def test_new_sub_opening_fetched_through_balancer_seam(spark, tmp_path):
    """The default opening path consults the balancer fan-out — NOT the
    stored ledger: the fetched value lands verbatim as the opening row, and
    every request row carries the batch-head block_number (the reference
    queries balanceOf at a block hash, client/balancer.go:43-116)."""
    def sentinel_lookup(req: pd.DataFrame) -> pd.Series:
        # executed on executors: a failed assert fails the Spark job
        assert "block_number" in req.columns
        assert (req["block_number"] == 105).all()
        return pd.Series(["42777"] * len(req), index=req.index)

    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 0, "group": 3, "address": A5,
         "created_at": NOW, "updated_at": NOW}
    ])
    store, _src, ing = _mk(spark, tmp_path, raw, balancer=sentinel_lookup)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103, 104, 105]))

    a5_rows = {
        (r["token"], r["block_number"]): r["balance"]
        for r in store.read("balances").filter(F.col("address") == A5).collect()
    }
    assert a5_rows == {(ETH, 105): "42777", (T1, 105): "42777"}
    stamps = {r["address"]: r["block_number"] for r in store.read("subscriptions").collect()}
    assert stamps[A5] == 105


def test_new_sub_with_prev_balance_errors(spark, tmp_path):
    """ErrHasPrevBalance: subscribing an address as NEW when the store
    already tracks balance rows for it is a lifecycle corruption."""
    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 0, "group": 3, "address": A5,
         "created_at": NOW, "updated_at": NOW}
    ])
    raw["seed_balances"] = pd.concat(
        [raw["seed_balances"],
         pd.DataFrame([{"token": ETH, "block_number": 95, "address": A5,
                        "balance": "123", "group": 3}])],
        ignore_index=True,
    )
    _store, _src, ing = _mk(spark, tmp_path, raw)
    with pytest.raises(ValueError, match="has-prev-balance"):
        ing.process_headers(headers_of(raw, [100, 101, 102]))


def test_resubscribe_after_unsubscribe_hits_has_prev_guard(spark, tmp_path):
    """The tracked-then-unsubscribed-then-re-subscribed-as-NEW lifecycle is
    impossible by construction: the re-added subscription (block_number=0)
    trips ErrHasPrevBalance on the next batch because the address's balance
    history is still stored. This is WHY _init_new_subscriptions needs no
    latest_balances fast path for "re-tracked" addresses — the guard forbids
    that state ever reaching initialization (reference semantics:
    store/transfer_processor.go:295-301)."""
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103]))

    subs = ing.subscriptions
    resub = subs.filter(F.col("address") != A3).unionByName(
        subs.filter(F.col("address") == A3).withColumn(
            "block_number", F.lit(0).cast("long")
        )
    )
    store.update_dimension("subscriptions", resub)
    ing.subscriptions = resub
    with pytest.raises(ValueError, match="has-prev-balance"):
        ing.process_headers(headers_of(raw, [104, 105]))


def test_old_sub_missing_prev_errors(spark, tmp_path):
    """ErrMissingPrevBalance: an OLD sub (block_number>0) with activity but
    no prior balance row means its initialization never happened."""
    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 95, "group": 3, "address": A9,
         "created_at": NOW, "updated_at": NOW}
    ])
    _store, _src, ing = _mk(spark, tmp_path, raw)
    with pytest.raises(ValueError, match="missing-prev-balance"):
        ing.process_headers(headers_of(raw, [100, 101, 102]))


def test_reorg_resets_subscriptions(spark, tmp_path):
    """Subs stamped on a retracted range are reset to 0 and re-initialized
    on the winning branch (subscription.go:62-63,131-146)."""
    raw = _with_extra_subs(build_raw(), [
        {"id": 4, "block_number": 0, "group": 3, "address": A5,
         "created_at": NOW, "updated_at": NOW}
    ])
    store, source, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102, 103]))
    stamps = {r["address"]: r["block_number"] for r in store.read("subscriptions").collect()}
    assert stamps[A5] == 103

    # heavier fork replacing 103 and extending to 104
    fork_blocks = [(103, A9, 900, [], [], []), (104, A9, 900, [], [], [])]
    b102_hash = headers_of(raw, [102])[0]["hash"]
    fork = build_raw(blocks=fork_blocks, prefix="h", fork_parent=(103, b102_hash))
    source.extend(fork["block_headers_raw"], transfer_logs=fork["transfer_logs"])

    assert ing.process_headers(headers_of(fork, [103, 104])) == "reorg"

    stamps = {r["address"]: r["block_number"] for r in store.read("subscriptions").collect()}
    assert stamps[A5] == 104  # re-initialized at the fork branch head
    a5_rows = {
        r["block_number"] for r in store.read("balances").filter(F.col("address") == A5).collect()
    }
    assert a5_rows == {104}  # the 103-stamped opening rows were retracted


def test_structured_streaming_file_source(spark, tmp_path):
    """The actual Structured Streaming wrapper: header batches land as
    parquet files; availableNow drains them through foreachBatch."""
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)

    import glob
    import os
    import shutil

    hdr_dir = tmp_path / "stream_in"
    stage = tmp_path / "stage"
    hdr_dir.mkdir()
    pdf = raw["block_headers_raw"]
    for i, nums in enumerate([[100, 101, 102], [103, 104, 105]]):
        batch = spark.createDataFrame(
            pdf[pdf["number"].isin(nums)], RAW_SCHEMAS["block_headers_raw"]
        )
        batch.coalesce(1).write.mode("overwrite").parquet(str(stage / f"b{i}"))
        part = glob.glob(str(stage / f"b{i}" / "part-*.parquet"))[0]
        dest = str(hdr_dir / f"batch_{i}.parquet")
        shutil.copy(part, dest)
        # file source orders by modification time: make it strictly increasing
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    q = start_stream(
        spark, ing, str(hdr_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert_state_matches(store, expected_model())


def test_register_token_fetches_metadata_via_seam(spark, tmp_path):
    """register_token with metadata omitted reads it through the MetadataFn
    seam (the reference's contract eth_calls, client/client.go:112-148);
    explicit caller values still win field-by-field."""
    raw = build_raw()
    store, source, ing = _mk(spark, tmp_path, raw)
    ing.metadata_fn = lambda a: {"name": f"SEAM-{a[-4:]}", "total_supply": "777", "decimals": 9}

    t_new = addr(77)
    ing.register_token(t_new, at_block=100)
    row = store.read("erc20").filter(F.col("address") == t_new).collect()[0]
    assert (row["name"], row["total_supply"], row["decimals"]) == (
        f"SEAM-{t_new[-4:]}", "777", 9,
    )

    # explicit values override the seam per field
    ing.register_token(t_new, name="EXPLICIT", at_block=100)
    row = store.read("erc20").filter(F.col("address") == t_new).collect()[0]
    assert (row["name"], row["total_supply"], row["decimals"]) == ("EXPLICIT", "777", 9)

    # no seam plugged in → deterministic fake, never a crash
    ing.metadata_fn = None
    t2 = addr(78)
    ing.register_token(t2, at_block=100)
    row = store.read("erc20").filter(F.col("address") == t2).collect()[0]
    assert row["name"].startswith("TOKEN-") and row["decimals"] == 18


def test_batch_decodes_each_erc20_transfer_once(spark, tmp_path, monkeypatch):
    """A batch materializes its event lineage once: the ABI decode runs
    over each registered-token transfer log once, not once per action that
    reads the events (the deltas probe and checkpoint, the totals rollup,
    the transfers write). A counting pandas UDF stands in for the decode."""
    from eth_indexer_spark.pipeline import transform

    decoded = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def counting_abi_uint256(data: pd.Series) -> pd.Series:
        decoded.add(len(data))
        return data.map(lambda b: str(int.from_bytes(bytes(b), "big")), na_action="ignore")

    monkeypatch.setattr(transform, "abi_uint256", counting_abi_uint256)
    raw = build_raw()
    store, _src, ing = _mk(spark, tmp_path, raw)
    ing.process_headers(headers_of(raw, [100, 101, 102]))

    stored = store.read("transfers").filter(F.col("token") != ETH).count()
    assert stored >= 1
    assert decoded.value == stored
