"""EP3 read-path tests (plans/queries.py) over the domain fixtures — the
query semantics of store/account/account.go, block_header.go,
transaction_receipt.go, subscription.go."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.pipeline import transform as tr
from eth_indexer_spark.plans import queries as q
from tests.fixtures import ETH, T1, A1, A2, A3, RAW_SCHEMAS, bhash, build_raw, thash


@pytest.fixture(scope="module")
def raw(spark):
    pdfs = build_raw()
    return {n: spark.createDataFrame(p, schema=RAW_SCHEMAS[n]) for n, p in pdfs.items()}


@pytest.fixture(scope="module")
def headers(raw):
    return tr.compute_header_rewards(
        raw["block_headers_raw"], raw["transactions"], raw["transaction_receipts"]
    )


def test_header_by_hash_and_number(headers):
    assert q.header_by_hash(headers, bhash(103)).collect()[0]["number"] == 103
    assert q.header_by_number(headers, 101).collect()[0]["hash"] == bhash(101)
    assert q.header_by_hash(headers, "ff" * 32).count() == 0


def test_latest_header_and_count(headers):
    assert q.latest_header(headers).collect()[0]["number"] == 105
    assert q.header_count(headers).collect()[0]["count"] == 6


def test_td_by_hash(spark, headers):
    td = tr.total_difficulty(spark, [r.asDict() for r in headers.collect()])
    assert int(q.td_by_hash(td, bhash(102)).collect()[0]["td"]) == 100 + 101 + 102


def test_tx_lookups(raw):
    txs = raw["transactions"]
    assert q.tx_by_hash(txs, thash("100a")).collect()[0]["block_number"] == 100
    assert q.txs_by_block_hash(txs, bhash(104)).count() == 1


def test_receipt_hydration(raw):
    """P5: receipt + ordered logs array; empty array (not null) when the tx
    has no logs (transaction_receipt.go:106-119)."""
    r = q.receipt_with_logs(
        raw["transaction_receipts"], raw["receipt_logs"], thash("101a")
    ).collect()[0]
    assert len(r["logs"]) == 2
    contracts = {lg["contract_address"] for lg in r["logs"]}
    assert T1 in contracts
    r2 = q.receipt_with_logs(
        raw["transaction_receipts"], raw["receipt_logs"], thash("100a")
    ).collect()[0]
    assert r2["logs"] == []


def test_find_account_asof(raw):
    """J2: as-of reads over sparse snapshots (account.go:64,175-185).
    A3's ETH rows sit at blocks 80 and 95 — a mid-range as-of must see the
    older row, not the latest."""
    bal = raw["seed_balances"]
    assert q.find_account(bal, ETH, A3, 90).collect()[0]["balance"] == "700"
    assert q.find_account(bal, ETH, A3).collect()[0]["balance"] == "800"
    assert q.find_account(bal, ETH, A3, 79).count() == 0
    # unknown token ⇒ empty result, not an error (per-token table semantics)
    assert q.find_account(bal, "ee" * 20, A3).count() == 0


def test_latest_accounts(raw):
    got = {
        r["address"]: (r["block_number"], r["balance"])
        for r in q.latest_accounts(raw["seed_balances"], ETH).collect()
    }
    assert got[A3] == (95, "800")
    assert got[A1] == (90, str(10**6))
    sub = q.latest_accounts(raw["seed_balances"], ETH, [A3]).collect()
    assert len(sub) == 1 and sub[0]["address"] == A3


def test_transfers_by_address(raw, headers):
    eth = tr.extract_eth_transfers(raw["transactions"])
    rows = q.transfers_by_address(eth, ETH, A1).collect()
    assert [r["block_number"] for r in rows] == sorted(
        [r["block_number"] for r in rows], reverse=True
    )
    assert all(r["from"] == A1 or r["to"] == A1 for r in rows)


def test_find_erc20(raw):
    assert q.find_erc20(raw["erc20"], T1).collect()[0]["name"] == "TokenOne"
    assert q.find_erc20(raw["erc20"], "dd" * 20).count() == 0


def test_subscription_pagination(raw):
    subs = raw["subscriptions"]
    page1 = q.list_subscriptions(subs, group=1, page=1, limit=1).collect()
    page2 = q.list_subscriptions(subs, group=1, page=2, limit=1).collect()
    assert [r["id"] for r in page1] == [1]
    assert [r["id"] for r in page2] == [2]
    assert q.list_subscriptions(subs, group=1, page=3, limit=1).count() == 0


def test_old_subscriptions_semi_join(spark, raw):
    addrs = spark.createDataFrame([(A1,), ("ff" * 20,)], "address string")
    got = {r["address"] for r in q.old_subscriptions_for(raw["subscriptions"], addrs).collect()}
    assert got == {A1}


def test_find_total_balance_asof(spark, raw, headers):
    eth = tr.extract_eth_transfers(raw["transactions"])
    rew = tr.reward_events(headers)
    events = eth.unionByName(rew)
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees, exact=True)
    sd = deltas.join(F.broadcast(raw["subscriptions"].select("address", "group")), "address")
    totals = tr.total_balance_rollup(sd, fees, events, raw["subscriptions"], exact=True)
    r = q.find_total_balance(totals, 102, ETH, 1).collect()[0]
    assert r["block_number"] == 102
    r_future = q.find_total_balance(totals, 10_000, ETH, 2).collect()[0]
    assert r_future["block_number"] == 104  # A3's last ETH activity (uncle reward)


# -- store-aware EP3 surface over the LogStore ---------------------------------


def _batch(spark, numbers):
    return {
        "block_headers": spark.createDataFrame(
            [(f"h{n}", f"h{n-1}", n, 100 + n) for n in numbers],
            "hash string, parent_hash string, number long, difficulty long",
        ),
        "total_balances": spark.createDataFrame(
            [("0xeth", n, 1, str(n * 10)) for n in numbers],
            "token string, block_number long, `group` long, balance string",
        ),
    }


def _headers_store(spark, root, n=20):
    """A LogStore holding block_headers 0..n-1 in one batch."""
    from eth_indexer_spark.sinks.logstore import LogStore

    store = LogStore(spark, root)
    store.write_blocks(
        {"block_headers": _batch(spark, range(n))["block_headers"]},
        block_range=(0, n - 1),
    )
    return store


def _expire_pins(store, lo, hi, tables=("block_headers",)):
    """Reorg, then maintenance with zero retention: the retraction alone
    leaves every open pin readable (its files stay on disk), the vacuum
    deletes the files the pins still read — every pin taken before this
    call is expired."""
    store.retract_blocks(lo, hi, tables=tables)
    store.vacuum(retain_versions=0)


def test_store_point_reads_prune_files(spark, tmp_path):
    """EP3 economics: the store-aware wrapper routes each block-number
    filter through the log's per-file block stats, so a point lookup scans
    only the files that can hold that block and an as-of lookup only the
    files starting at or below N — the analog of the reference's indexed
    point SELECTs (store/block_header/block_header.go:46,
    store/account/account.go:63-64)."""
    from eth_indexer_spark.sinks.logstore import LogStore

    store = LogStore(spark, str(tmp_path / "store"))
    for lo in range(0, 40, 10):
        store.write_blocks(_batch(spark, range(lo, lo + 10)), block_range=(lo, lo + 9))
    sq = q.StoreQueries(store)
    live = store._state(refresh=True).files

    def files_where(table, keep):
        return {store._abs(m.path) for m in live[table].values() if keep(m)}

    def scanned(df):
        return {"/" + f.split("://", 1)[-1].lstrip("/") for f in df.inputFiles()}

    point = sq.header_by_number(25)
    assert scanned(point) and scanned(point) <= files_where(
        "block_headers", lambda m: m.lo <= 25 <= m.hi
    )
    assert point.collect()[0]["number"] == 25

    latest = sq.latest_header()
    assert scanned(latest) and scanned(latest) <= files_where(
        "block_headers", lambda m: m.hi >= 39
    )
    assert latest.collect()[0]["number"] == 39

    asof = sq.find_total_balance(17, "0xeth", 1)
    assert scanned(asof) and scanned(asof) <= files_where(
        "total_balances", lambda m: m.lo <= 17
    )
    assert asof.collect()[0]["block_number"] == 17
    # the later batches' files are never opened
    assert not scanned(asof) & files_where("total_balances", lambda m: m.lo >= 20)


def test_store_queries_snapshot_pins_batch_boundary(spark, tmp_path):
    """StoreQueries.snapshot() must pin one log version: reads through the
    pinned wrapper keep answering from one batch boundary — including
    latest_header's stats-only head lookup and the as-of lookup — even
    after the live store advances."""
    from eth_indexer_spark.sinks.logstore import LogStore

    store = LogStore(spark, str(tmp_path / "store"))
    store.write_blocks(_batch(spark, range(0, 20)), block_range=(0, 19))
    pinned = q.StoreQueries(store).snapshot()
    store.write_blocks(_batch(spark, range(20, 40)), block_range=(20, 39))

    # pinned wrapper still answers from the first batch...
    assert pinned.latest_header().collect()[0]["number"] == 19
    assert pinned.header_by_number(25).count() == 0
    assert (
        pinned.find_total_balance(39, "0xeth", 1).collect()[0]["block_number"] == 19
    )
    # ...while a fresh snapshot sees the advanced boundary
    live = q.StoreQueries(store).snapshot()
    assert live.latest_header().collect()[0]["number"] == 39
    assert live.header_by_number(25).count() == 1


def test_store_queries_naive_read_detects_expired_pin(spark, tmp_path):
    """Default-on guard for the EP3 surface: a NAIVE consumer — takes
    StoreQueries.snapshot(), runs a plain ``.collect()``/``.count()``/
    ``.toPandas()`` on the returned frame, never heard of guard() — must
    get the named SnapshotExpiredError once a vacuum deleted the files its
    pin reads, not a raw Spark error or a partial answer. Forward progress
    and a vacuum that deletes nothing the pin reads must NOT trip it."""
    from eth_indexer_spark.plans.queries import GuardedDataFrame
    from eth_indexer_spark.sinks.logstore import LogStore, SnapshotExpiredError

    store = LogStore(spark, str(tmp_path / "store"))
    store.write_blocks(_batch(spark, range(0, 20)), block_range=(0, 19))
    pinned = q.StoreQueries(store).snapshot()

    latest = pinned.latest_header()
    asof = pinned.find_total_balance(15, "0xeth", 1)
    point = pinned.header_by_number(7)
    # the snapshot surface hands back guarded frames that are still real
    # DataFrames (composable, explainable)
    for frame in (latest, asof, point):
        assert isinstance(frame, GuardedDataFrame)
    assert latest.collect()[0]["number"] == 19  # healthy pin: reads pass
    assert point.count() == 1

    # forward progress plus a vacuum that leaves the pin's files alone
    # never trips the naive reader
    store.write_blocks(_batch(spark, range(20, 30)), block_range=(20, 29))
    store.vacuum(retain_versions=0)
    assert latest.collect()[0]["number"] == 19
    assert asof.toPandas()["block_number"].iloc[0] == 15

    # reorg + zero-retention vacuum deletes the pinned files — every naive
    # terminal action on the already-returned frames raises
    _expire_pins(store, 10, 29, tables=("block_headers", "total_balances"))
    with pytest.raises(SnapshotExpiredError):
        latest.collect()
    with pytest.raises(SnapshotExpiredError):
        asof.toPandas()
    with pytest.raises(SnapshotExpiredError):
        point.count()
    with pytest.raises(SnapshotExpiredError):
        list(point.toLocalIterator())
    # frames REQUESTED after the expiry from the same pin raise too (the
    # pin itself is invalid, not just its old frames)
    with pytest.raises(SnapshotExpiredError):
        pinned.latest_header().collect()

    # recovery path: a fresh snapshot reads cleanly
    fresh = q.StoreQueries(store).snapshot()
    assert fresh.latest_header().collect()[0]["number"] == 9

    # live (unpinned) StoreQueries stays unguarded — there is no pin to
    # expire, and its reads track the moving store by design
    live_frame = q.StoreQueries(store).latest_header()
    assert not isinstance(live_frame, GuardedDataFrame)
    assert live_frame.collect()[0]["number"] == 9


def test_store_queries_over_logstore_prevents_reorg_rewind_race(spark, tmp_path):
    """A snapshot pins an immutable file set, so a reorg retraction landing
    mid-read changes nothing the pinned reader can observe, and naive
    terminal actions keep returning the pinned state with no error. This
    is the reference's MySQL read-transaction guarantee
    (store/store.go:115-173)."""
    from eth_indexer_spark.sinks.logstore import LogStore

    store = LogStore(spark, str(tmp_path / "logstore"))
    store.write_blocks(_batch(spark, range(0, 20)), block_range=(0, 19))
    pinned = q.StoreQueries(store).snapshot()

    latest = pinned.latest_header()
    asof = pinned.find_total_balance(15, "0xeth", 1)
    point = pinned.header_by_number(7)
    assert latest.collect()[0]["number"] == 19
    assert point.count() == 1

    # reorg rewind lands while the pin is open: retraction + replacement
    store.retract_blocks(10, 19, tables=("block_headers", "total_balances"))
    store.write_blocks(_batch(spark, range(10, 16)), block_range=(10, 15))

    # the pinned reader never observes it — same answers, no error, both on
    # already-returned frames and on frames requested after the rewind
    assert latest.collect()[0]["number"] == 19
    assert asof.toPandas()["block_number"].iloc[0] == 15
    assert point.count() == 1
    assert pinned.latest_header().collect()[0]["number"] == 19

    # a fresh pin sees the post-reorg chain
    fresh = q.StoreQueries(store).snapshot()
    assert fresh.latest_header().collect()[0]["number"] == 15
    assert fresh.header_by_number(18).count() == 0


# every bracketed action of a pinned answer, as one call each
_PINNED_ACTIONS = {
    "collect": lambda df: df.collect(),
    "toPandas": lambda df: df.toPandas(),
    "toArrow": lambda df: df.toArrow(),
    "count": lambda df: df.count(),
    "first": lambda df: df.first(),
    "head": lambda df: df.head(2),
    "take": lambda df: df.take(2),
    "tail": lambda df: df.tail(2),
    "show": lambda df: df.show(),
    "isEmpty": lambda df: df.isEmpty(),
    "foreach": lambda df: df.foreach(lambda row: None),
    "foreachPartition": lambda df: df.foreachPartition(lambda rows: None),
    "checkpoint": lambda df: df.checkpoint(),
    "localCheckpoint": lambda df: df.localCheckpoint(),
    "toLocalIterator": lambda df: list(df.toLocalIterator()),
}


@pytest.mark.parametrize("action", sorted(_PINNED_ACTIONS))
def test_pinned_answer_actions_raise_on_expired_pin(spark, tmp_path, action):
    """Every terminal action of a pinned EP3 answer runs inside the pin's
    guard: once a vacuum deleted files the pin reads, each one raises the
    named SnapshotExpiredError, not a raw Spark error or a partial
    answer."""
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    if action == "checkpoint":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "checkpoints"))
    store = _headers_store(spark, str(tmp_path / "store"))
    frame = q.StoreQueries(store).snapshot().headers_in_range(0, 19)
    _expire_pins(store, 10, 19)
    with pytest.raises(SnapshotExpiredError):
        _PINNED_ACTIONS[action](frame)


def test_local_iterator_mid_iteration_expiry_raises(spark, tmp_path):
    """toLocalIterator checks the pin every _ITER_CHECK_EVERY rows: an
    expiry landing mid-iteration raises within one check window instead of
    only at exhaustion (rows already yielded were produced under the race
    with no later signal)."""
    from eth_indexer_spark.plans.queries import GuardedDataFrame
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    store = _headers_store(spark, str(tmp_path / "store"), n=30)
    frame = q.StoreQueries(store).snapshot().headers_in_range(0, 29)
    old = GuardedDataFrame._ITER_CHECK_EVERY
    GuardedDataFrame._ITER_CHECK_EVERY = 4
    try:
        it = frame.toLocalIterator()
        rows = [next(it) for _ in range(3)]
        _expire_pins(store, 20, 29)
        with pytest.raises(SnapshotExpiredError):
            rows.extend(it)
        # at most one check window of rows came out under the race
        assert len(rows) <= 4
    finally:
        GuardedDataFrame._ITER_CHECK_EVERY = old


def test_local_iterator_later_partition_expiry_raises(spark, tmp_path):
    """toLocalIterator fetches one partition at a time: a vacuum landing
    between two fetches makes the later one open a deleted file, and that
    read failure surfaces as SnapshotExpiredError, not a raw Spark error."""
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    store = _headers_store(spark, str(tmp_path / "store"))
    store.write_blocks(
        {"block_headers": _batch(spark, range(20, 40))["block_headers"]},
        block_range=(20, 39),
    )
    frame = q.StoreQueries(store).snapshot().headers_in_range(0, 39)
    it = frame.toLocalIterator()
    next(it)
    _expire_pins(store, 0, 39)
    with pytest.raises(SnapshotExpiredError):
        list(it)
