"""EP3 read-path parity: the reference's library query surface as DataFrame
functions (README.md:95-113, example/main.go).

Each function takes the relevant table DataFrame(s) — loaded from the
engine's partitioned parquet catalog — and returns a DataFrame with the same
semantics as the reference's SQL. Domain-shaped golden tests live in
tests/test_queries.py against the FIXTURES.md generator.

Per-token table semantics: the reference raises no error when a token's
dynamic table is missing — queries just return empty. With the single
``token``-partitioned table, a filter on an unknown token naturally returns
an empty DataFrame, preserving that contract (SURVEY §7d).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# -- block headers (store/block_header/block_header.go:44-49,89-132) ---------


def header_by_hash(headers: DataFrame, block_hash: str) -> DataFrame:
    """P1: SELECT * FROM block_headers WHERE hash = X (block_header.go:47)."""
    return headers.filter(F.col("hash") == block_hash)


def header_by_number(headers: DataFrame, number: int) -> DataFrame:
    """P2: ... WHERE number = N (block_header.go:46). With a
    block-range-partitioned layout this prunes to one partition."""
    return headers.filter(F.col("number") == number)


def latest_header(headers: DataFrame) -> DataFrame:
    """T1: ORDER BY number DESC LIMIT 1 (block_header.go:48,116-123)."""
    return headers.orderBy(F.desc("number")).limit(1)


def header_count(headers: DataFrame) -> DataFrame:
    """A1: SELECT COUNT(*) (block_header.go:49,125-132)."""
    return headers.agg(F.count(F.lit(1)).alias("count"))


def td_by_hash(td: DataFrame, block_hash: str) -> DataFrame:
    """P3: total difficulty lookup (block_header.go:45,89-96)."""
    return td.filter(F.col("hash") == block_hash)


# -- transactions (store/transaction/transaction.go:37-39,62-78) -------------


def tx_by_hash(txs: DataFrame, tx_hash: str) -> DataFrame:
    return txs.filter(F.col("hash") == tx_hash)


def txs_by_block_hash(txs: DataFrame, block_hash: str) -> DataFrame:
    return txs.filter(F.col("block_hash") == block_hash)


# -- receipts + logs hydration (transaction_receipt.go:39-40,97-120) ---------


def receipt_with_logs(receipts: DataFrame, logs: DataFrame, tx_hash: str) -> DataFrame:
    """P5: receipt row with its logs assembled into an ordered array<struct>
    column — the reference runs two point SELECTs and stitches structs in Go;
    Spark-first is a left join + ``collect_list(struct(...))``."""
    r = receipts.filter(F.col("tx_hash") == tx_hash)
    lg = (
        logs.filter(F.col("tx_hash") == tx_hash)
        .select(
            "tx_hash",
            F.struct(
                "block_number", "contract_address", "event_name",
                "topic1", "topic2", "topic3", "data",
            ).alias("log"),
        )
        .groupBy("tx_hash")
        .agg(F.collect_list("log").alias("logs"))
    )
    return r.join(lg, "tx_hash", "left").withColumn(
        "logs", F.coalesce(F.col("logs"), F.array())
    )


# -- accounts / balances (store/account/account.go:53-69,175-234) ------------


def find_account(balances: DataFrame, token: str, address: str, block_number: int | None = None) -> DataFrame:
    """J2/T2: balance as-of ``block_number`` (or latest): WHERE address=X
    [AND block_number<=N] ORDER BY block_number DESC LIMIT 1
    (account.go:63-64,175-185)."""
    df = balances.filter((F.col("token") == token) & (F.col("address") == address))
    if block_number is not None:
        df = df.filter(F.col("block_number") <= block_number)
    return df.orderBy(F.desc("block_number")).limit(1)


def latest_accounts(balances: DataFrame, token: str, addresses: list[str] | None = None) -> DataFrame:
    """J1: greatest-n-per-group — latest balance row per address. The
    reference self-joins a MAX(block_number) derived table
    (account.go:187-209); the Spark plan is one window pass."""
    df = balances.filter(F.col("token") == token)
    if addresses is not None:
        df = df.filter(F.col("address").isin(addresses))
    w = W.partitionBy("address").orderBy(F.desc("block_number"))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def transfers_by_address(transfers: DataFrame, token: str, address: str) -> DataFrame:
    """P7: transfers touching an address, newest first
    (account.go:67,223-234)."""
    return transfers.filter(
        (F.col("token") == token)
        & ((F.col("from") == address) | (F.col("to") == address))
    ).orderBy(F.desc("block_number"))


def find_erc20(erc20: DataFrame, address: str) -> DataFrame:
    """P6: token registry lookup (account.go:58,125-136)."""
    return erc20.filter(F.col("address") == address)


# -- subscriptions / total balances (store/subscription/subscription.go) -----


def list_subscriptions(subs: DataFrame, group: int, page: int, limit: int) -> DataFrame:
    """A2/T4: offset pagination ordered by id
    (subscription.go:54-58,160-205)."""
    return (
        subs.filter(F.col("group") == group)
        .orderBy("id")
        .offset((page - 1) * limit)
        .limit(limit)
    )


def new_subscriptions(subs: DataFrame, limit: int = 990) -> DataFrame:
    """block_number == 0 means "new, not yet processed"
    (subscription.go:52-54); page-limited like newSubscriptionLimit
    (transfer_processor.go:36-39)."""
    return subs.filter(F.col("block_number") == 0).orderBy("id").limit(limit)


def old_subscriptions_for(subs: DataFrame, addresses: DataFrame) -> DataFrame:
    """J4: semi-join — which of the changed addresses are subscribed
    (subscription.go:52,104-115). ``addresses`` is a 1-column DataFrame
    (``address``); broadcast because changed-addrs-per-block is small."""
    return subs.filter(F.col("block_number") > 0).join(
        F.broadcast(addresses), "address", "left_semi"
    )


def find_total_balance(total_balances: DataFrame, block_number: int, token: str, group: int) -> DataFrame:
    """J3: as-of total balance for (token, group)
    (subscription.go:61,122-129)."""
    return (
        total_balances.filter(
            (F.col("token") == token)
            & (F.col("group") == group)
            & (F.col("block_number") <= block_number)
        )
        .orderBy(F.desc("block_number"))
        .limit(1)
    )


# -- store-aware EP3 surface --------------------------------------------------

# `pyspark.sql.DataFrame` is the dispatching API class in Spark 4 (classic
# vs connect); subclass the concrete classic implementation so a guarded
# answer constructs directly over a JVM DataFrame.
try:  # pragma: no cover - import shape depends on pyspark version
    from pyspark.sql.classic.dataframe import DataFrame as _ConcreteDataFrame
except ImportError:  # pyspark < 4: one concrete DataFrame class
    _ConcreteDataFrame = DataFrame


class GuardedDataFrame(_ConcreteDataFrame):
    """A pinned EP3 answer whose OWN terminal actions run inside its
    snapshot's ``guard()``: a caller who has never heard of ``guard()``
    gets the named
    :class:`~eth_indexer_spark.sinks.logstore.SnapshotExpiredError`, not a
    raw Spark error or a silently partial answer, when a ``vacuum`` past
    the retention window deleted files the pin reads. (A reorg after the
    pin needs no check: a snapshot pins an immutable file set.)

    Only the answer itself is guarded. Frames derived from it are plain
    DataFrames, and so are ``.rdd``, ``toJSON``, ``pandas_api()``,
    ``write`` and SQL over a temp view; a caller who composes brackets the
    action with ``snapshot.guard()``. The eager ``checkpoint``/
    ``localCheckpoint`` bracket the job they run and return plain frames.
    """

    _GUARDED_ACTIONS = (
        "collect",
        "toPandas",
        "toArrow",
        "count",
        "first",
        "head",
        "take",
        "tail",
        "show",
        "isEmpty",
        "foreach",
        "foreachPartition",
        "checkpoint",
        "localCheckpoint",
    )

    # rows between mid-iteration checks: the check is one small
    # driver-side directory listing (~µs), so every 8k rows is noise
    # against the py4j transfer cost of the rows themselves
    _ITER_CHECK_EVERY = 8192

    def __init__(self, df: DataFrame, snapshot):
        super().__init__(df._jdf, df.sparkSession)
        self._graft_snapshot = snapshot

    def toLocalIterator(self, prefetchPartitions: bool = False):
        """Iterator form: checked at creation, every ``_ITER_CHECK_EVERY``
        rows, and at EXHAUSTION (the guard's own post-check); a later
        partition's read of a vacuumed file is translated like any action.
        A vacuum expiring the pin mid-iteration raises within one check
        window, so at most ``_ITER_CHECK_EVERY`` rows are yielded under the
        race (a per-row check would put a file stat in the row hot loop for
        no practical tightening) — callers needing an exact all-or-nothing
        bracket should collect() instead."""
        self._graft_snapshot.check()
        inner = _ConcreteDataFrame.toLocalIterator(self, prefetchPartitions)
        every = self._ITER_CHECK_EVERY
        snapshot = self._graft_snapshot

        def gen():
            with snapshot.guard():
                for n, row in enumerate(inner, start=1):
                    yield row
                    if n % every == 0:
                        snapshot.check()

        return gen()


def _guarded_action(name: str):
    base = getattr(_ConcreteDataFrame, name)

    def action(self, *args, **kwargs):
        with self._graft_snapshot.guard():
            return base(self, *args, **kwargs)

    action.__name__ = name
    action.__qualname__ = f"GuardedDataFrame.{name}"
    action.__doc__ = f"``DataFrame.{name}`` inside the snapshot's guard."
    return action


for _name in GuardedDataFrame._GUARDED_ACTIONS:
    setattr(GuardedDataFrame, _name, _guarded_action(_name))
del _name


class StoreQueries:
    """EP3 point/as-of reads that ride the store's per-file block stats.

    The module-level functions above take caller-supplied DataFrames and
    filter logically. This wrapper routes each block-number filter through
    the store's ``read_eq``/``read_range`` first, which pick candidate files
    from the log's per-file min/max of the block column — an equality lookup
    opens only the files that can hold that block and an as-of lookup only
    the files starting at or below N, regardless of table size. The
    reference gets the same economics from the UNIQUE index every point
    SELECT rides (store/account/account.go:63-64,
    store/block_header/block_header.go:46-48); with 100 TB of history the
    difference is a few-file scan vs a full-table scan.
    """

    def __init__(self, store) -> None:
        self.store = store

    def snapshot(self) -> "StoreQueries":
        """Pin all subsequent reads at one log version of the store
        (sinks/logstore.py LogSnapshot): a multi-table read sequence — e.g.
        latest header + the balances that block implies — observes ONE
        batch, even while `write_blocks` lands the next one or a reorg
        retracts blocks. This is the reference's per-request
        DB-transaction read scope (store/store.go:115-173).

        Each answer the snapshot form returns is a
        :class:`GuardedDataFrame`: its own ``collect``/``toPandas``/
        ``toArrow``/``count``/... raise
        :class:`~eth_indexer_spark.sinks.logstore.SnapshotExpiredError`
        once a ``vacuum`` past the retention window deleted files the pin
        reads. Frames derived from an answer are plain DataFrames: bracket
        their actions with the returned instance's ``store.guard()``."""
        return StoreQueries(self.store.snapshot())

    def _finish(self, df: DataFrame) -> DataFrame:
        """Guard the answer's actions when this instance reads through a
        pinned snapshot (live-store instances return the frame untouched —
        there is no pin to expire)."""
        if hasattr(self.store, "guard"):
            return GuardedDataFrame(df, self.store)
        return df

    def header_by_number(self, number: int) -> DataFrame:
        return self._finish(
            header_by_number(self.store.read_eq("block_headers", number), number)
        )

    def headers_in_range(
        self, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """P2 range scan through the pinned view, pruned by log stats."""
        return self._finish(self.store.read_range("block_headers", lo=lo, hi=hi))

    def latest_header(self) -> DataFrame:
        """T1 in O(head files): max_block answers from log stats alone (no
        Spark job), so only the files holding the head block are read."""
        top = self.store.max_block("block_headers")
        if top is None:
            return self._finish(self.store.read("block_headers").limit(0))
        return self._finish(
            latest_header(self.store.read_range("block_headers", lo=top))
        )

    def find_account(
        self, token: str, address: str, block_number: int | None = None
    ) -> DataFrame:
        balances = (
            self.store.read_range("balances", hi=block_number)
            if block_number is not None
            else self.store.read("balances")
        )
        return self._finish(find_account(balances, token, address, block_number))

    def find_total_balance(self, block_number: int, token: str, group: int) -> DataFrame:
        return self._finish(
            find_total_balance(
                self.store.read_range("total_balances", hi=block_number),
                block_number,
                token,
                group,
            )
        )
