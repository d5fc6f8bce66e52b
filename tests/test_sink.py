"""Sink-layer contract tests (SURVEY §2.7): unique-key dedup and the
non-unique tables (S6/M5), NULL-key rejection, overwrite-by-block-range
(stale in-range rows dropped), multi-table retraction (M1/M2), dimension
replace and append (M3/M4), the commit-marker rule for the published
boundary, cross-table snapshot consistency, and the engine's call surface.
The commit-log mechanics (OCC, holds, optimize/vacuum, retention) live in
tests/test_logstore.py."""

from __future__ import annotations

import pytest

from eth_indexer_spark.sinks.logstore import LogStore


@pytest.fixture()
def store(spark, tmp_path):
    return LogStore(spark, str(tmp_path / "store"))


def headers_df(spark, numbers):
    return spark.createDataFrame(
        [(f"h{n}", f"h{n-1}", n, 100 + n) for n in numbers],
        "hash string, parent_hash string, number long, difficulty long",
    )


def transfers_df(spark, rows):
    """rows: (token, block_number, tx_hash, from, to, value)"""
    return spark.createDataFrame(
        rows,
        "token string, block_number long, tx_hash string, "
        "`from` string, `to` string, value string",
    )


def balances_df(spark, numbers, token="AAAA"):
    return spark.createDataFrame(
        [(token, n, "addr", str(n)) for n in numbers],
        "token string, block_number long, address string, balance string",
    )


def test_write_blocks_dedups_within_batch(spark, store):
    df = headers_df(spark, [100, 100, 101])
    store.write_blocks({"block_headers": df})
    assert store.read("block_headers").count() == 2


def test_overwrite_by_block_range(spark, store):
    """Overwrite granularity is the BLOCK RANGE: a later batch adjacent to
    an earlier one must not clobber it, and re-writing a sub-range
    replaces only that sub-range."""
    store.write_blocks({"block_headers": headers_df(spark, range(100, 105))})
    store.write_blocks({"block_headers": headers_df(spark, range(105, 120))})
    assert store.read("block_headers").count() == 20
    # replaying an interior range replaces exactly that range
    store.write_blocks({"block_headers": headers_df(spark, [110])}, block_range=(110, 110))
    nums = {r["number"] for r in store.read("block_headers").select("number").collect()}
    assert nums == set(range(100, 120))
    # replaying a wider range drops rows the replay no longer produces
    store.write_blocks({"block_headers": headers_df(spark, [115])}, block_range=(115, 119))
    nums = {r["number"] for r in store.read("block_headers").select("number").collect()}
    assert nums == set(range(100, 116))


def test_retract_blocks_spans_all_tables(spark, store):
    store.write_blocks(
        {
            "block_headers": headers_df(spark, range(100, 110)),
            "transfers": transfers_df(
                spark, [("AAAA", n, f"t{n}", "a", "b", "1") for n in range(100, 110)]
            ),
        }
    )
    store.retract_blocks(104, 109)
    assert store.read("block_headers").count() == 4
    assert store.read("transfers").count() == 4


def test_dimension_update_and_append(spark, store):
    subs = spark.createDataFrame(
        [(1, 0, 1, "aa")], "id long, block_number long, group long, address string"
    )
    store.update_dimension("subscriptions", subs)
    assert store.read("subscriptions").count() == 1
    # M3: batch update = wholesale replace
    subs2 = spark.createDataFrame(
        [(1, 7, 1, "aa"), (2, 0, 2, "bb")],
        "id long, block_number long, group long, address string",
    )
    store.update_dimension("subscriptions", subs2)
    got = {r["address"]: r["block_number"] for r in store.read("subscriptions").collect()}
    assert got == {"aa": 7, "bb": 0}
    # append with key dedup (reorgs audit style)
    store.append_dimension(
        "subscriptions",
        spark.createDataFrame(
            [(3, 0, 1, "cc"), (2, 9, 2, "bb")],
            "id long, block_number long, group long, address string",
        ),
    )
    assert store.read("subscriptions").count() == 3


def test_duplicate_transfers_and_log_index_rows_survive(spark, store):
    """Regression pins for the round-2 key fix: (a) genuinely identical
    duplicate transfer rows are legitimate (the reference's eth_transfer
    table has NO unique key) and must survive write_blocks; (b) two logs
    agreeing on every column except log_index are distinct rows."""
    dup = transfers_df(
        spark,
        [("tok", 100, "tx1", "a", "b", "5"), ("tok", 100, "tx1", "a", "b", "5")],
    )
    logs = spark.createDataFrame(
        [("tx1", 100, "c", "sig", "t1", "t2", None, b"", 0),
         ("tx1", 100, "c", "sig", "t1", "t2", None, b"", 1)],
        "tx_hash string, block_number long, contract_address string, "
        "event_name string, topic1 string, topic2 string, topic3 string, "
        "data binary, log_index long",
    )
    store.write_blocks({"transfers": dup, "receipt_logs": logs}, block_range=(100, 100))
    assert store.read("transfers").count() == 2
    assert store.read("receipt_logs").count() == 2


def test_null_log_index_rejected(spark, store):
    """A fetcher that omits log_index must fail loudly, not silently
    collapse all of a transaction's logs through the NULL-equal dedup."""
    logs = spark.createDataFrame(
        [("tx1", 100, "c", "sig", "t1", "t2", None, b"", None)],
        "tx_hash string, block_number long, contract_address string, "
        "event_name string, topic1 string, topic2 string, topic3 string, "
        "data binary, log_index long",
    )
    with pytest.raises(ValueError, match="log_index"):
        store.write_blocks({"receipt_logs": logs}, block_range=(100, 100))


def test_write_blocks_drops_stale_in_range_rows(spark, store):
    """Overwrite-by-range contract: stored rows inside the batch's range
    that the batch no longer produces must be dropped, not silently kept —
    even where the batch has zero rows and nothing survives."""
    store.write_blocks({"block_headers": headers_df(spark, range(100, 120))})
    # replace the whole range with a batch that only covers 100-105: the
    # stored 106-119 rows have no replacement and must disappear
    store.write_blocks(
        {"block_headers": headers_df(spark, range(100, 106))}, block_range=(100, 119)
    )
    nums = sorted(r["number"] for r in store.read("block_headers").collect())
    assert nums == list(range(100, 106))


def test_write_blocks_drops_stale_in_range_token_rows(spark, store):
    """Token-keyed variant: the token with no replacement rows loses its
    in-range rows; the other token's new rows land."""
    store.write_blocks(
        {
            "transfers": transfers_df(
                spark,
                [("ta", 100, "t1", "a", "b", "1"), ("tb", 101, "t2", "c", "d", "2")],
            )
        },
        block_range=(100, 101),
    )
    store.write_blocks(
        {"transfers": transfers_df(spark, [("ta", 100, "t3", "e", "f", "3")])},
        block_range=(100, 101),
    )
    rows = {(r["token"], r["tx_hash"]) for r in store.read("transfers").collect()}
    assert rows == {("ta", "t3")}


def test_marker_less_write_never_leads_headers(spark, store):
    """A batch WITHOUT the block_headers commit marker (new-token backfill,
    single-table repair) may restore the pre-batch boundary but never
    advance past it — otherwise snapshots would expose balances at blocks
    whose headers were never committed."""
    store.write_blocks(
        {
            "block_headers": headers_df(spark, range(100, 110)),
            "balances": balances_df(spark, range(100, 110)),
        },
        block_range=(100, 109),
    )
    assert store.read_version() == 109
    # marker-less write ABOVE the committed head: boundary must not move
    store.write_blocks(
        {"balances": balances_df(spark, range(110, 120))}, block_range=(110, 119)
    )
    assert store.read_version() == 109
    snap = store.snapshot()
    assert {r["number"] for r in snap.read("block_headers").collect()} == set(
        range(100, 110)
    )
    assert {r["block_number"] for r in snap.read("balances").collect()} == set(
        range(100, 110)
    )
    assert snap.read_range("balances", 105).count() == 5
    assert snap.read_eq("balances", 115).count() == 0
    assert snap.max_block("balances") == 109
    # compaction merges both sides of the boundary into one file; the
    # clamp still holds on the straddling file
    store.optimize("balances")
    snap = store.snapshot()
    assert len(snap._live("balances")) == 1
    assert snap.read("balances").count() == 10
    assert snap.max_block("balances") == 109
    # the marker batch for those blocks publishes them
    store.write_blocks(
        {"block_headers": headers_df(spark, range(110, 120))}, block_range=(110, 119)
    )
    assert store.read_version() == 119
    assert store.snapshot().read("balances").count() == 20


def test_snapshot_reader_never_spans_a_batch_boundary(spark, tmp_path):
    """While write_blocks lands batches of block_headers + balances, a
    concurrent reader pinning store.snapshot() must see exactly the same
    block set in BOTH tables — never balances of batch N+1 beside headers
    of batch N. The reference gets this from its single DB transaction
    (store/store.go:115-173)."""
    import threading

    store = LogStore(spark, str(tmp_path / "store"))

    def batch(lo):
        nums = range(lo, lo + 10)
        return {
            "balances": balances_df(spark, nums),
            "block_headers": headers_df(spark, nums),
        }

    store.write_blocks(batch(100), block_range=(100, 109))
    stop = threading.Event()
    errors = []

    def writer():
        try:
            for i in range(1, 7):
                lo = 100 + 10 * i
                store.write_blocks(batch(lo), block_range=(lo, lo + 9))
        except Exception as e:
            errors.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=writer)
    t.start()
    checks = 0
    try:
        while not stop.is_set():
            snap = store.snapshot()
            want = set(range(100, snap.version + 1))
            h = {r["number"] for r in snap.read("block_headers").collect()}
            b = {r["block_number"] for r in snap.read("balances").collect()}
            assert h == want, f"headers saw {sorted(h)[-3:]} vs v={snap.version}"
            assert b == want, f"balances saw {sorted(b)[-3:]} vs v={snap.version}"
            checks += 1
    finally:
        t.join()
    assert not errors, errors
    assert checks >= 3  # the reader actually raced the writer


def test_engine_calls_stay_inside_backend_contract():
    """Every `store.<method>(` call outside sinks/ must name a public
    LogStore method (snapshot views add check/guard): the engine
    never reaches into the store's private commit-log internals
    (``_state``, ``_commit``, ``_stage_files``, ...), so those stay free to
    change without touching operators, plans, pipeline, or streaming."""
    import pathlib
    import re

    import eth_indexer_spark

    contract = {m for m in dir(LogStore) if not m.startswith("_")}
    allowed = contract | {"check", "guard"}
    pkg = pathlib.Path(eth_indexer_spark.__file__).parent
    bad = []
    for p in pkg.rglob("*.py"):
        if "sinks" in p.parts:
            continue
        for m in re.finditer(r"\bstore\.([a-z_]+)\(", p.read_text()):
            if m.group(1) not in allowed:
                bad.append((p.name, m.group(1)))
    assert not bad, f"non-contract store calls in engine code: {bad}"
