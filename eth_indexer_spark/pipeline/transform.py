"""The per-batch transform pipeline: geth-shaped raw tables in, derived
tables out.

Re-expresses the reference's per-block imperative loop
(store/store.go:215-316 + store/transfer_processor.go:85-418) as a dataflow
of pure DataFrame functions over a whole batch of blocks at once. The
reference iterates block-by-block inside one DB transaction; the only step
whose semantics genuinely require block order is the cumulative carry-forward
(total balances / balance snapshots / total difficulty), and those become
windowed prefix sums per key — everything else is order-free and fully
parallel.

Arithmetic follows the uint256 policy (schema.py). Every amount sum goes
through :func:`_u256_sum` (grouped) or :func:`_u256_running_sum` (seed plus
running sum), and the caller picks the path with a required ``exact``: the
fast path (``exact=False``) is DECIMAL(38,0) column math guarded by
:func:`_fits` — a value over 30 digits fails the job with
:data:`FAST_PATH_OVERFLOW` — and the exact path (``exact=True``) is one
grouped pandas pass over Python ints. The ingest runs the fast path and
recomputes on the exact path only when that job fails, so a batch pays no
probe job.
"""

from __future__ import annotations

from itertools import accumulate

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eth_indexer_spark.functions.hexutils import abi_uint256, topic_to_address
from eth_indexer_spark.functions.rewards import (
    base_reward,
    uncle_reward,
    uncles_inclusion_reward,
)
from eth_indexer_spark.schema import (
    ERC20_TRANSFER_SIG,
    ETH_TOKEN,
    MINER_REWARD_FROM,
    TOTAL_DIFFICULTY,
    UNCLE_REWARD_FROM,
)

_D = "decimal(38,0)"
# named in the job failure a guarded fast path raises (see _fits)
FAST_PATH_OVERFLOW = "uint256-fast-path-overflow"


def _fits(col: str) -> Column:
    """``col`` unchanged while it has at most 30 digits; a longer value
    fails the job with :data:`FAST_PATH_OVERFLOW`. 30 digits leave 8 of
    headroom in DECIMAL(38,0), so a sum of up to 10^8 guarded values cannot
    overflow. It guards a column the fast path computes from, so column
    pruning cannot drop it."""
    digits = F.length(F.regexp_replace(col, "-", ""))
    return F.when(
        digits > 30, F.raise_error(F.lit(f"{FAST_PATH_OVERFLOW}: a value exceeds 30 digits"))
    ).otherwise(F.col(col))


def _with_string(df: DataFrame, cols: list[str], out: str) -> T.StructType:
    """Schema of ``df``'s ``cols`` followed by the string column ``out``."""
    return T.StructType([df.schema[c] for c in cols] + [T.StructField(out, T.StringType())])


def _u256_sum(df: DataFrame, keys: list[str], col: str, out: str, exact: bool) -> DataFrame:
    """Σ of the decimal strings in ``col`` per ``keys``: the keys plus the
    sum as the string column ``out``. Fast path: a DECIMAL(38,0) aggregate
    (map-side partial aggregation, no Python). Exact path: one grouped
    pandas sum over Python ints."""
    if not exact:
        return df.groupBy(*keys).agg(F.sum(_fits(col).cast(_D)).cast("string").alias(out))

    def _sum(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.iloc[:1][keys].assign(**{out: str(sum(map(int, pdf[col])))})

    return df.groupBy(*keys).applyInPandas(_sum, _with_string(df, keys, out))


def _u256_running_sum(
    df: DataFrame, keys: list[str], order: str, col: str, seed: str, out: str, exact: bool
) -> DataFrame:
    """``seed`` plus the running Σ of ``col`` per ``keys`` in ``order``,
    one row per input row: every other column of ``df`` plus the total as
    the string column ``out``. ``seed`` is one value per key (NULL = 0).
    Fast path: a DECIMAL(38,0) window prefix sum (no Python). Exact path:
    one grouped pandas pass over Python ints."""
    rest = [c for c in df.columns if c not in (col, seed)]
    if not exact:
        cum = W.partitionBy(*keys).orderBy(order).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        total = F.coalesce(_fits(seed).cast(_D), F.lit(0).cast(_D)) + F.sum(
            _fits(col).cast(_D)
        ).over(cum)
        return df.select(*rest, total.cast("string").alias(out))

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        seeds = pdf[seed].dropna()
        start = int(seeds.iloc[0]) if len(seeds) else 0
        running = list(accumulate(map(int, pdf[col]), initial=start))[1:]
        return pdf[rest].assign(**{out: [str(v) for v in running]})

    return df.groupBy(*keys).applyInPandas(_run, _with_string(df, rest, out))


# ---------------------------------------------------------------------------
# Event extraction
# ---------------------------------------------------------------------------


def eth_transfer_events(transfer_logs: DataFrame) -> DataFrame:
    """ETH transfer events from the node's state-diff transfer logs
    (debug_getTransferLogs, client/client.go:150-154, consumed at
    service/indexer/indexer.go:443-467 and store/store.go:240-245 via
    common.EthTransferEvent, utils.go:198-208). This is the reference's ONLY
    source of ether events: it covers both top-level tx value AND ether moved
    inside contract execution, which ``tx.amount`` alone never sees."""
    return transfer_logs.select(
        F.lit(ETH_TOKEN).alias("token"),
        "block_number",
        "tx_hash",
        "from",
        "to",
        "value",
    )


def extract_eth_transfers(txs: DataFrame) -> DataFrame:
    """Fallback ETH transfer events from value-bearing transactions, for
    sources without state-diff support (a non-archive node has no
    debug_getTransferLogs). Misses internal transfers — prefer
    :func:`eth_transfer_events`. Zero-value calls carry no event but still
    pay fees (transfer_processor.go:95-97).

    The zero test is on the canonical string, not a decimal cast: amounts may
    exceed DECIMAL(38,0) (uint256 policy) and a cast would null them out."""
    return txs.filter(F.col("amount") != "0").select(
        F.lit(ETH_TOKEN).alias("token"),
        "block_number",
        F.col("hash").alias("tx_hash"),
        "from",
        "to",
        F.col("amount").alias("value"),
    )


def extract_erc20_transfers(logs: DataFrame, erc20: DataFrame) -> DataFrame:
    """P8 (store/event_erc20.go:37-62): keep logs of REGISTERED tokens whose
    topic0 is the ERC20 Transfer signature; project topics→(from,to) and
    ABI-decode data→value (exact uint256 — fixture values exceed 1e38).

    The registry is broadcast: it is the reference's in-memory token list
    (store/store.go:85,98-113)."""
    tokens = erc20.select(F.col("address").alias("contract_address")).distinct()
    return (
        logs.filter(F.col("event_name") == ERC20_TRANSFER_SIG)
        .join(F.broadcast(tokens), "contract_address", "left_semi")
        .select(
            F.col("contract_address").alias("token"),
            "block_number",
            "tx_hash",
            topic_to_address("topic1").alias("from"),
            topic_to_address("topic2").alias("to"),
            abi_uint256("data").alias("value"),
        )
    )


def reward_events(headers: DataFrame) -> DataFrame:
    """Synthetic miner/uncle reward transfer events
    (store/store.go:278-299). Miner event value = txs_fee + base + inclusion
    (= header.miner_reward, model/types.go:111-113); tx_hash = block hash.
    Uncle event value = uncle reward; tx_hash = uncle hash."""
    miner = headers.select(
        F.lit(ETH_TOKEN).alias("token"),
        F.col("number").alias("block_number"),
        F.col("hash").alias("tx_hash"),
        F.lit(MINER_REWARD_FROM).alias("from"),
        F.col("coinbase").alias("to"),
        F.col("miner_reward").alias("value"),
    )
    uncles = []
    for i in (1, 2):
        uncles.append(
            headers.filter(F.col(f"uncle{i}_hash") != "").select(
                F.lit(ETH_TOKEN).alias("token"),
                F.col("number").alias("block_number"),
                F.col(f"uncle{i}_hash").alias("tx_hash"),
                F.lit(UNCLE_REWARD_FROM).alias("from"),
                F.col(f"uncle{i}_coinbase").alias("to"),
                F.col(f"uncle{i}_reward").alias("value"),
            )
        )
    out = miner
    for u in uncles:
        out = out.unionByName(u)
    return out


def compute_header_rewards(headers: DataFrame, txs: DataFrame, receipts: DataFrame) -> DataFrame:
    """Fill the reward columns of raw headers (model/types.go:93-123 +
    common/utils.go:216-254): txs_fee = Σ gas_price×gas_used over the block,
    miner_reward = txs_fee + base + inclusion, uncleN_reward by formula.

    Raw headers here carry ``uncleN_hash``/``uncleN_coinbase``/
    ``uncleN_number`` from the fetcher; this fills the derived columns."""
    fees = (
        txs.select("hash", "gas_price", "block_number")
        .join(receipts.select(F.col("tx_hash").alias("hash"), "gas_used"), "hash")
        .groupBy("block_number")
        .agg(F.sum(F.col("gas_price").cast(_D) * F.col("gas_used").cast(_D)).alias("__fee"))
    )
    h = headers.join(
        fees.withColumnRenamed("block_number", "number"), "number", "left"
    ).withColumn("__fee", F.coalesce(F.col("__fee"), F.lit(0).cast(_D)))

    n_uncles = (F.col("uncle1_hash") != "").cast("int") + (F.col("uncle2_hash") != "").cast("int")
    incl = uncles_inclusion_reward(F.col("number"), n_uncles)
    miner = F.col("__fee") + base_reward(F.col("number")) + incl
    u1 = F.when(
        F.col("uncle1_hash") != "", uncle_reward(F.col("number"), F.col("uncle1_number"))
    ).otherwise(F.lit(0).cast(_D))
    u2 = F.when(
        F.col("uncle2_hash") != "", uncle_reward(F.col("number"), F.col("uncle2_number"))
    ).otherwise(F.lit(0).cast(_D))
    return (
        h.withColumn("txs_fee", F.col("__fee").cast("string"))
        .withColumn("uncles_inclusion_reward", incl.cast("string"))
        .withColumn("miner_reward", miner.cast("string"))
        .withColumn("uncle1_reward", u1.cast("string"))
        .withColumn("uncle2_reward", u2.cast("string"))
        .drop("__fee")
    )


# ---------------------------------------------------------------------------
# Fees
# ---------------------------------------------------------------------------


def tx_fees(txs: DataFrame, receipts: DataFrame) -> DataFrame:
    """A5 (transfer_processor.go:224-249): fee = gas_price × gas_used per
    sender per block. The reference zips txs↔receipts positionally with a
    hash consistency check (J6); distributed form is an equi-join on
    tx_hash — order-independent and safe under partitioning."""
    return (
        txs.select("hash", "block_number", "from", "gas_price")
        .join(receipts.select(F.col("tx_hash").alias("hash"), "gas_used"), "hash")
        .groupBy("block_number", F.col("from").alias("address"))
        .agg(F.sum(F.col("gas_price").cast(_D) * F.col("gas_used").cast(_D)).alias("fee"))
    )


# ---------------------------------------------------------------------------
# Ledger deltas → balance snapshots (the balancer stand-in: state derived
# from our own ledger instead of a geth RPC; see sources/chain.py for the
# batched-RPC-shaped variant)
# ---------------------------------------------------------------------------


def ledger_deltas(
    events: DataFrame, fees: DataFrame | None = None, *, exact: bool
) -> DataFrame:
    """Per-(token, address, block) balance delta implied by the ledger:
    Σ incoming − Σ outgoing − fees (ETH only). Reward sentinels never appear
    as debit rows (they are not accounts).

    ``exact`` picks the arithmetic path of the uint256 policy (schema.py,
    :func:`_u256_sum`): False is the guarded DECIMAL(38,0) aggregate, which
    fails with :data:`FAST_PATH_OVERFLOW` on a value over 30 digits; True
    sums Python ints.
    """
    credit = events.select(
        "token", "block_number", F.col("to").alias("address"), F.col("value").alias("signed")
    )
    debit = events.filter(
        ~F.col("from").isin(MINER_REWARD_FROM, UNCLE_REWARD_FROM)
    ).select(
        "token",
        "block_number",
        F.col("from").alias("address"),
        F.concat(F.lit("-"), F.col("value")).alias("signed"),
    )
    parts = credit.unionByName(debit)
    if fees is not None:
        parts = parts.unionByName(
            fees.select(
                F.lit(ETH_TOKEN).alias("token"),
                "block_number",
                "address",
                F.concat(F.lit("-"), F.col("fee").cast("string")).alias("signed"),
            )
        )
    return _u256_sum(parts, ["token", "block_number", "address"], "signed", "delta", exact)


def balance_snapshots(
    deltas: DataFrame,
    subs: DataFrame,
    seed_balances: DataFrame | None = None,
    *,
    exact: bool,
    require_seed: bool = False,
) -> DataFrame:
    """Sparse per-(token, address, block) balance snapshots for SUBSCRIBED
    addresses: seed (latest stored balance before the batch) + running sum of
    deltas, one row per block where the balance changed — the shape of the
    reference's ``accounts`` / ``erc20_balance_<token>`` rows
    (transfer_processor.go:258-313).

    ``exact`` picks the arithmetic path of the running sum
    (:func:`_u256_running_sum`): False is the guarded DECIMAL(38,0) window
    prefix sum, True the grouped pass over Python ints.

    ``require_seed``: a subscribed (token, address) with activity this
    batch but no seed row fails the job with ``missing-prev-balance``
    (ErrMissingPrevBalance, transfer_processor.go:303-310) — its opening
    row was never written (new-sub path or token backfill)."""
    subs_b = F.broadcast(subs.select("address", "group"))
    d = deltas.join(subs_b, "address")  # inner: only subscribed addresses

    if seed_balances is not None:
        # latest stored balance per (token, address) — J1 on the seed table;
        # without this reduction a multi-row seed would fan out the deltas
        w = W.partitionBy("token", "address").orderBy(F.desc("block_number"))
        seed = (
            seed_balances.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("token", "address", F.col("balance").alias("__seed"))
        )
        d = d.join(seed, ["token", "address"], "left")
    else:
        d = d.withColumn("__seed", F.lit(None).cast("string"))
    if require_seed:
        missing = F.concat(
            F.lit("missing-prev-balance: old subscription (token="),
            F.col("token"),
            F.lit(", address="),
            F.col("address"),
            F.lit(
                ") has activity but no prior balance row (reference "
                "ErrMissingPrevBalance, store/transfer_processor.go:303-310)"
            ),
        )
        d = d.withColumn(
            "__seed",
            F.when(F.col("__seed").isNull(), F.raise_error(missing)).otherwise(F.col("__seed")),
        )

    return _u256_running_sum(
        d, ["token", "address"], "block_number", "delta", "__seed", "balance", exact
    ).select("token", "block_number", "address", "balance", "group")


# ---------------------------------------------------------------------------
# Total balances (A7) and total difficulty (A10)
# ---------------------------------------------------------------------------


def total_balance_rollup(
    snapshots_deltas: DataFrame,
    fees: DataFrame,
    events: DataFrame,
    subs: DataFrame,
    prev_totals: DataFrame | None = None,
    *,
    exact: bool,
) -> DataFrame:
    """A7 (transfer_processor.go:322-416): per (token, group, block) total =
    previous total + Σ member deltas, carried forward cumulatively; ETH rows
    also record the block's member tx fees and miner/uncle rewards. The
    reference seeds each block from the n−1 row inside a sequential loop —
    here the whole batch is one windowed prefix sum per (token, group).

    ``snapshots_deltas`` = ledger_deltas joined to subscribed addresses
    (token, block_number, address, delta, group).

    ``exact`` picks the arithmetic path of both the group-delta sum and
    the carry-forward (:func:`_u256_sum`, :func:`_u256_running_sum`): False
    is guarded DECIMAL(38,0) column math, True Python ints.
    """
    subs_b = F.broadcast(subs.select("address", "group"))

    gdelta = _u256_sum(
        snapshots_deltas, ["token", "group", "block_number"], "delta", "gdelta", exact
    )

    group_fees = (
        fees.join(subs_b, "address")
        .groupBy("group", "block_number")
        .agg(F.sum("fee").cast("string").alias("tx_fee"))
    )
    miner_r = (
        events.filter(F.col("from") == MINER_REWARD_FROM)
        .join(subs_b, events["to"] == subs_b["address"])
        .groupBy("group", "block_number")
        .agg(F.max(F.col("value").cast(_D)).cast("string").alias("miner_reward"))
    )
    uncle_r = (
        events.filter(F.col("from") == UNCLE_REWARD_FROM)
        .join(subs_b, events["to"] == subs_b["address"])
        .groupBy("group", "block_number")
        .agg(F.sum(F.col("value").cast(_D)).cast("string").alias("uncles_reward"))
    )

    if prev_totals is not None:
        seed = prev_totals.select("token", "group", F.col("balance").alias("__seed"))
        gdelta = gdelta.join(seed, ["token", "group"], "left")
    else:
        gdelta = gdelta.withColumn("__seed", F.lit(None).cast("string"))

    totals = _u256_running_sum(
        gdelta, ["token", "group"], "block_number", "gdelta", "__seed", "balance", exact
    )

    is_eth = F.col("token") == ETH_TOKEN
    return (
        totals.join(group_fees, ["group", "block_number"], "left")
        .join(miner_r, ["group", "block_number"], "left")
        .join(uncle_r, ["group", "block_number"], "left")
        .select(
            "token",
            "block_number",
            "group",
            "balance",
            F.when(is_eth, F.coalesce(F.col("tx_fee"), F.lit("0"))).otherwise("0").alias("tx_fee"),
            F.when(is_eth, F.coalesce(F.col("miner_reward"), F.lit("0"))).otherwise("0").alias("miner_reward"),
            F.when(is_eth, F.coalesce(F.col("uncles_reward"), F.lit("0"))).otherwise("0").alias("uncles_reward"),
        )
    )


def new_token_backfill(
    balances: DataFrame, subs: DataFrame, token: str, block_number: int, *, exact: bool
) -> DataFrame:
    """A8 (store/new_erc20.go:41-175): when a token is registered at block N,
    seed ``total_balances`` for every subscription group — latest stored
    balance per subscribed address as-of N, summed per group.

    The reference pages through all subscriptions 1000 at a time
    (subLimit, new_erc20.go:35) because it fetches balances over RPC;
    deriving from the stored balance table it is one as-of reduction
    (window top-1 per address) + one grouped sum, on the arithmetic path
    ``exact`` picks (:func:`_u256_sum`)."""
    w = W.partitionBy("address").orderBy(F.desc("block_number"))
    latest = (
        balances.filter(
            (F.col("token") == token) & (F.col("block_number") <= block_number)
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .join(F.broadcast(subs.select("address")), "address", "left_semi")
    )

    return _u256_sum(latest, ["group"], "balance", "balance", exact).select(
        F.lit(token).alias("token"),
        F.lit(block_number).cast("long").alias("block_number"),
        "group",
        "balance",
        *[F.lit("0").alias(c) for c in ("tx_fee", "miner_reward", "uncles_reward")],
    )


def total_difficulty(spark, headers: list[dict], seed_td: int = 0) -> DataFrame:
    """A10 (service/indexer/indexer.go:249-274): td(n) = td(parent) +
    difficulty, seeded by the stored td of the batch's parent. A batch's
    headers are already driver-side dicts, so the prefix sum runs there on
    exact Python ints and the rows cross to the JVM as Arrow — no
    unpartitioned window, no single-task stage."""
    rows = sorted(headers, key=lambda h: h["number"])
    td, out = int(seed_td), []
    for h in rows:
        td += int(h["difficulty"])
        out.append((int(h["number"]), h["hash"], str(td)))
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["block", "hash", "td"]), TOTAL_DIFFICULTY
    )
