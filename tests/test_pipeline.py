"""Golden tests: Spark pipeline transforms vs the independent pure-Python
model in fixtures.py (the strategy of store/transfer_processor_test.go —
hand-computable fee/reward/balance math over deterministic blocks)."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from eth_indexer_spark.pipeline import transform as tr
from eth_indexer_spark.schema import ETH_TOKEN
from eth_indexer_spark.session import raised_message
from tests.fixtures import ETH, T1, RAW_SCHEMAS, build_raw, expected_model


@pytest.fixture(scope="module")
def raw(spark):
    pdfs = build_raw()
    dfs = {}
    for name, pdf in pdfs.items():
        dfs[name] = spark.createDataFrame(pdf, schema=RAW_SCHEMAS[name])
    return dfs


@pytest.fixture(scope="module")
def model():
    return expected_model()


@pytest.fixture(scope="module")
def headers(raw):
    return tr.compute_header_rewards(
        raw["block_headers_raw"], raw["transactions"], raw["transaction_receipts"]
    )


@pytest.fixture(scope="module")
def events(raw, headers):
    # the state-diff path: covers top-level value transfers AND internal
    # (contract-executed) ether moves the fixtures include at block 102
    eth = tr.eth_transfer_events(raw["transfer_logs"])
    erc = tr.extract_erc20_transfers(raw["receipt_logs"], raw["erc20"])
    rew = tr.reward_events(headers)
    return eth.unionByName(erc).unionByName(rew)


def test_internal_transfer_visible_only_to_state_diff(raw):
    """The block-102 internal transfer (tx.amount == 0) appears in the
    state-diff events and NOT in the tx.value fallback — the exact gap the
    reference closes with debug_getTransferLogs (indexer.go:443-467)."""
    from tests.fixtures import CONTRACT

    diff_ev = tr.eth_transfer_events(raw["transfer_logs"]).filter(
        (F.col("block_number") == 102) & (F.col("from") == CONTRACT)
    )
    assert diff_ev.count() == 1
    assert diff_ev.collect()[0]["value"] == "55"
    fallback = tr.extract_eth_transfers(raw["transactions"]).filter(
        F.col("block_number") == 102
    )
    assert fallback.count() == 0


def test_header_rewards(headers, model):
    got = {
        r["number"]: r
        for r in headers.select(
            "number", "txs_fee", "uncles_inclusion_reward", "miner_reward",
            "uncle1_reward", "uncle2_reward",
        ).collect()
    }
    for number, exp in model["header_rewards"].items():
        row = got[number]
        for col, v in exp.items():
            assert row[col] == str(v), f"block {number} {col}: {row[col]} != {v}"


def test_events_match_model(events, model):
    got = {
        (r["token"], r["block_number"], r["tx_hash"], r["from"], r["to"], int(r["value"]))
        for r in events.collect()
    }
    want = {(t, n, h, f, to, v) for t, n, h, f, to, v in model["events"]}
    assert got == want


def test_unregistered_token_ignored(raw):
    """FIXTURES scenario 2: Transfer-shaped logs from unregistered contracts
    are dropped (store/event_erc20.go:42)."""
    erc = tr.extract_erc20_transfers(raw["receipt_logs"], raw["erc20"])
    tokens = {r["token"] for r in erc.select("token").distinct().collect()}
    assert tokens == {T1}


def test_exact_uint256_values(events):
    """FIXTURES scenario 6: values > 1e38 survive extraction exactly."""
    big = {
        int(r["value"])
        for r in events.filter(F.col("block_number") == 104).collect()
    }
    assert 10**39 in big          # ERC20 ABI-decoded
    assert 2 * 10**39 in big      # ETH amount passthrough


def test_tx_fees(raw, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    got = {(r["block_number"], r["address"]): int(r["fee"]) for r in fees.collect()}
    assert got == {k: v for k, v in model["fees"].items()}


def test_ledger_deltas(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees, exact=True)
    got = {
        (r["token"], r["block_number"], r["address"]): int(r["delta"])
        for r in deltas.collect()
    }
    assert got == dict(model["deltas"])


def test_ledger_deltas_fast_path_matches_exact(raw, events):
    """The DECIMAL(38,0) fast path and the exact pandas path must agree
    wherever both are valid. Block 104 carries >1e38 values (the full batch
    on the exact path is covered by test_ledger_deltas); here the
    small-value sub-batch is computed on both paths."""
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    small_events = events.filter(F.col("block_number") != 104)
    small_fees = fees.filter(F.col("block_number") != 104)

    def collect(df):
        return {
            (r["token"], r["block_number"], r["address"]): int(r["delta"])
            for r in df.collect()
        }

    fast = collect(tr.ledger_deltas(small_events, small_fees, exact=False))
    slow = collect(tr.ledger_deltas(small_events, small_fees, exact=True))
    assert fast == slow and fast

    # the forced fast path over >30-digit values fails by name instead of
    # overflowing, so an ingest recomputes that batch on the exact path
    with pytest.raises(SparkRuntimeException) as err:
        tr.ledger_deltas(events, fees, exact=False).collect()
    assert raised_message(err.value).startswith(tr.FAST_PATH_OVERFLOW)


def test_balance_snapshots(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees, exact=True)
    snaps = tr.balance_snapshots(deltas, raw["subscriptions"], raw["seed_balances"], exact=True)
    got = {
        (r["token"], r["block_number"], r["address"]): (int(r["balance"]), r["group"])
        for r in snaps.collect()
    }
    want = {(t, n, a): (b, g) for t, n, a, b, g in model["snapshots"]}
    assert got == want


def test_snapshots_and_rollup_fast_path_matches_exact(raw, events):
    """The JVM DECIMAL(38,0) window prefix sums must agree with the exact
    pandas paths wherever both are valid (no >30-digit values) — the
    extension of the ledger_deltas fast path to the remaining carry-forward
    stages."""
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    small_events = events.filter(F.col("block_number") != 104)
    small_fees = fees.filter(F.col("block_number") != 104)
    deltas = tr.ledger_deltas(small_events, small_fees, exact=False)
    small_seed = raw["seed_balances"].filter(F.length("balance") <= 30)

    def snap(exact):
        return {
            (r["token"], r["block_number"], r["address"]): (int(r["balance"]), r["group"])
            for r in tr.balance_snapshots(
                deltas, raw["subscriptions"], small_seed, exact=exact
            ).collect()
        }

    assert snap(False) == snap(True) and snap(False)

    subs = raw["subscriptions"]
    sd = deltas.join(F.broadcast(subs.select("address", "group")), "address")

    def roll(exact):
        return {
            (r["token"], r["block_number"], r["group"]): int(r["balance"])
            for r in tr.total_balance_rollup(sd, small_fees, small_events, subs, exact=exact).collect()
        }

    assert roll(False) == roll(True) and roll(False)


def test_total_balance_rollup(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees, exact=True)
    subs = raw["subscriptions"]
    sd = deltas.join(F.broadcast(subs.select("address", "group")), "address")
    totals = tr.total_balance_rollup(sd, fees, events, subs, exact=True)
    got = {
        (r["token"], r["block_number"], r["group"]): (
            int(r["balance"]), int(r["tx_fee"]), int(r["miner_reward"]), int(r["uncles_reward"])
        )
        for r in totals.collect()
    }
    want = {
        (t, n, g): (b, f, m, u) for t, n, g, b, f, m, u in model["totals"]
    }
    assert got == want


def test_new_token_backfill(raw, spark):
    """A8: registering T1 at block 100 seeds per-group totals from the
    latest stored balances (SEED_BALANCES: A1@90=1e40, A2@95=1e4 in group 1;
    A3@95=50 in group 2; the A3@80 row is superseded)."""
    totals = tr.new_token_backfill(
        raw["seed_balances"], raw["subscriptions"], T1, 100, exact=True
    )
    got = {
        (r["token"], r["block_number"], r["group"]): int(r["balance"])
        for r in totals.collect()
    }
    assert got == {(T1, 100, 1): 10**40 + 10000, (T1, 100, 2): 50}
    fees = {(r["tx_fee"], r["miner_reward"], r["uncles_reward"]) for r in totals.collect()}
    assert fees == {("0", "0", "0")}

    # the fast path agrees where every seed fits 30 digits and fails by name
    # on the 10**40 seed, so a registration reruns on the exact path
    def backfill(seeds, exact):
        return sorted(
            tr.new_token_backfill(seeds, raw["subscriptions"], T1, 100, exact=exact).collect()
        )

    small_seed = raw["seed_balances"].filter(F.length("balance") <= 30)
    assert backfill(small_seed, False) == backfill(small_seed, True)
    with pytest.raises(SparkRuntimeException) as err:
        backfill(raw["seed_balances"], False)
    assert raised_message(err.value).startswith(tr.FAST_PATH_OVERFLOW)


def test_total_difficulty(spark, headers, model):
    td = tr.total_difficulty(spark, [r.asDict() for r in headers.collect()])
    got = {(r["block"], r["hash"]): int(r["td"]) for r in td.collect()}
    want = {(n, h): v for n, h, v in model["td"]}
    assert got == want


def test_eth_token_sentinel():
    assert ETH == ETH_TOKEN
