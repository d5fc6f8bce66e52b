"""Canonical schemas for the engine's catalog (SURVEY §1.4).

Translated from the reference's MySQL DDL
(migration/db/migrate/20180313051512_initialize_indexer_tables.rb and
successors; Go mirrors in model/types.go:54-263) into Spark types, with three
deliberate departures:

1. **Hex strings, not BINARY.** Hashes (64 hex chars) and addresses (40 hex
   chars) are lowercase hex ``StringType`` — dictionary-encoded in parquet,
   human-readable, and join keys behave identically. (The reference stores
   BINARY(32)/BINARY(20), model/types.go:56-62.)

2. **uint256 policy.** The reference stores balances/values/td as VARCHAR(32)
   decimal strings and does arithmetic in Go ``big.Int``
   (model/types.go:72-81,113-121). Spark's widest exact numeric is
   DECIMAL(38,0) ≈ 1.15e38 « 2^256 ≈ 1.16e77. Canonical policy
   (applied in :mod:`eth_indexer_spark.pipeline.transform`):

   - storage of amount columns is an exact decimal STRING;
   - column arithmetic uses ``CAST(x AS DECIMAL(38,0))`` — the fast JVM path,
     valid while values < 1e38 (all realistic wei totals: total ETH supply
     ≈ 1.2e26 wei);
   - the ABI decode of ERC20 values is exact in the JVM at any width
     (``hexutils.abi_uint256``), so decoding never needs Python;
   - only arithmetic on values above 30 digits (adversarial ERC20
     supplies) takes the exact path, grouped pandas over Python int. The
     caller picks the path with a required ``exact``; the ingest runs the
     fast path, whose job fails by name on a value over 30 digits, and
     reruns the batch on the exact path only then — no probe job.

3. **One table per entity, never per token.** The reference creates
   ``erc20_balance_<addr>`` / ``erc20_transfer_<addr>`` tables at runtime
   (store/account/account.go:55-56,110-122); here both are single tables with
   a leading ``token`` column, partitioned by it on write — dynamic partition
   pruning restores the "scan only this token" property without DDL.

Sentinels (model/types.go:35-42): ``ETH_TOKEN`` marks ether rows in
token-keyed tables; ``MINER_REWARD_FROM`` / ``UNCLE_REWARD_FROM`` are the
synthetic ``from`` of reward transfer events.
"""

from __future__ import annotations

from pyspark.sql import types as T

# -- sentinels ---------------------------------------------------------------

# bytes of "ETH" left-padded to 20 bytes, hex-rendered (model/types.go:35-38)
ETH_TOKEN = "0000000000000000000000000000000000455448"
# bytes of "MINER REWARD" / "UNCLE REWARD" left-padded to 20 (types.go:39-42)
MINER_REWARD_FROM = "00000000000000004d494e455220524557415244"
UNCLE_REWARD_FROM = "0000000000000000554e434c4520524557415244"

# ERC20 Transfer(address,address,uint256) topic0 (store/event_erc20.go:32-35)
ERC20_TRANSFER_SIG = "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

# uint256 exact-decimal fast path
U256_DECIMAL = T.DecimalType(38, 0)


def _s(name: str, dtype: T.DataType = T.StringType(), nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


LONG = T.LongType()
INT = T.IntegerType()
TS = T.TimestampType()
BIN = T.BinaryType()

# -- core fact tables --------------------------------------------------------

BLOCK_HEADERS = T.StructType([
    _s("hash"), _s("parent_hash"), _s("uncle_hash"), _s("coinbase"),
    _s("root"), _s("tx_hash"), _s("receipt_hash"),
    _s("difficulty", LONG), _s("number", LONG),
    _s("gas_limit", LONG), _s("gas_used", LONG), _s("time", LONG),
    _s("extra_data", BIN), _s("mix_digest"), _s("nonce"),
    # reward columns added by migration 20180706033026 / 061448 / 041306
    _s("miner_reward"), _s("uncles_inclusion_reward"), _s("txs_fee"),
    _s("uncle1_reward"), _s("uncle2_reward"),
    _s("uncle1_coinbase"), _s("uncle2_coinbase"),
    _s("uncle1_hash"), _s("uncle2_hash"),
    _s("created_at", TS),
])

TRANSACTIONS = T.StructType([
    _s("hash"), _s("block_hash"), _s("from"), _s("to"),
    _s("nonce", LONG), _s("gas_price", LONG), _s("gas_limit", LONG),
    _s("amount"),  # uint256 decimal string
    _s("payload", BIN), _s("block_number", LONG),
])

TRANSACTION_RECEIPTS = T.StructType([
    _s("root"), _s("status", INT), _s("cumulative_gas_used", LONG),
    _s("bloom", BIN), _s("tx_hash"), _s("contract_address"),
    _s("gas_used", LONG), _s("block_number", LONG),
])

RECEIPT_LOGS = T.StructType([
    _s("tx_hash"), _s("block_number", LONG), _s("contract_address"),
    _s("event_name"),  # topic0 hex; literal "NA" when no topics (utils.go:33-35)
    _s("topic1"), _s("topic2"), _s("topic3"),
    _s("data", BIN),
    # REQUIRED log discriminator, unique per (tx_hash, log_index). The
    # canonical scoping is PER TRANSACTION (0,1,2,... within each tx, the
    # numbering fixtures generate); geth's types.Log.Index is BLOCK-scoped,
    # which a real fetcher may pass through verbatim — it is also unique per
    # (tx_hash, log_index), so both scopings satisfy the engine's only
    # invariant. The reference model omits the column (model/types.go:
    # 153-164) because MySQL rows are naturally distinct; a columnar store
    # needs the explicit discriminator so two otherwise-identical logs (two
    # ERC721 Transfers in one tx differing only by tokenId) stay distinct.
    # NULL is rejected by the sink (LogStore._prep) — a null
    # would make the dedup key collapse all of a transaction's logs.
    _s("log_index", LONG),
])

TOTAL_DIFFICULTY = T.StructType([
    _s("block", LONG), _s("hash"), _s("td"),  # td: uint256 decimal string
])

# -- transfer / balance tables (token partition col replaces per-token DDL) --

TRANSFERS = T.StructType([
    _s("token"),  # ETH_TOKEN for ether rows
    _s("block_number", LONG), _s("tx_hash"),
    _s("from"), _s("to"), _s("value"),  # uint256 decimal string
])

BALANCES = T.StructType([
    _s("token"), _s("block_number", LONG), _s("address"),
    _s("balance"),  # uint256 decimal string
    _s("group", LONG),
])

# -- dimension / state tables -------------------------------------------------

ERC20 = T.StructType([
    _s("address"), _s("block_number", LONG),  # 0 = new/uninitialized
    _s("total_supply"), _s("decimals", INT), _s("name"),
])

SUBSCRIPTIONS = T.StructType([
    _s("id", LONG), _s("block_number", LONG),  # 0 = new, not yet processed
    _s("group", LONG), _s("address"),
    _s("created_at", TS), _s("updated_at", TS),
])

TOTAL_BALANCES = T.StructType([
    _s("token"), _s("block_number", LONG), _s("group", LONG),
    _s("balance"), _s("tx_fee"), _s("miner_reward"), _s("uncles_reward"),
])

REORGS = T.StructType([
    _s("from", LONG), _s("from_hash"), _s("to", LONG), _s("to_hash"),
    _s("created_at", TS),
])

# -- raw (fetcher-shaped) inputs of the ingest pipeline ----------------------
# DDL strings: the shape a block source (sources/blocks.py) delivers before
# reward derivation. Headers carry uncleN_* fetch columns that
# compute_header_rewards consumes; the stored BLOCK_HEADERS schema above is
# the derived output.

RAW_SCHEMAS: dict[str, str] = {
    "block_headers_raw": (
        "hash string, parent_hash string, uncle_hash string, coinbase string, "
        "root string, tx_hash string, receipt_hash string, difficulty long, "
        "number long, gas_limit long, gas_used long, time long, "
        "extra_data binary, mix_digest string, nonce string, "
        "uncle1_hash string, uncle1_coinbase string, uncle1_number long, "
        "uncle2_hash string, uncle2_coinbase string, uncle2_number long, "
        "created_at timestamp"
    ),
    "transactions": (
        "hash string, block_hash string, `from` string, `to` string, nonce long, "
        "gas_price long, gas_limit long, amount string, payload binary, "
        "block_number long"
    ),
    "transaction_receipts": (
        "root string, status int, cumulative_gas_used long, bloom binary, "
        "tx_hash string, contract_address string, gas_used long, block_number long"
    ),
    "receipt_logs": (
        "tx_hash string, block_number long, contract_address string, "
        "event_name string, topic1 string, topic2 string, topic3 string, "
        "data binary, log_index long"
    ),
    # debug_getTransferLogs state-diff rows (client/client.go:150-154;
    # vendored types.TransferLog: from/to/value/txHash) — every ether
    # movement incl. transfers executed INSIDE contract calls, which never
    # appear as tx.value. Consumed by pipeline.eth_transfer_events.
    "transfer_logs": (
        "block_number long, tx_hash string, `from` string, `to` string, value string"
    ),
    "subscriptions": (
        "id long, block_number long, group long, address string, "
        "created_at timestamp, updated_at timestamp"
    ),
    "seed_balances": "token string, block_number long, address string, balance string, group long",
    "erc20": "address string, block_number long, total_supply string, decimals int, name string",
}

DOMAIN_TABLES: dict[str, T.StructType] = {
    "block_headers": BLOCK_HEADERS,
    "transactions": TRANSACTIONS,
    "transaction_receipts": TRANSACTION_RECEIPTS,
    "receipt_logs": RECEIPT_LOGS,
    "total_difficulty": TOTAL_DIFFICULTY,
    "transfers": TRANSFERS,
    "balances": BALANCES,
    "erc20": ERC20,
    "subscriptions": SUBSCRIPTIONS,
    "total_balances": TOTAL_BALANCES,
    "reorgs": REORGS,
}
