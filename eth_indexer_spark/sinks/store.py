"""Table-key policy and snapshot-guarded frames, shared by the store and
every layer that reads it (SURVEY §2.7, §7 step 4).

The engine's one store is :class:`~eth_indexer_spark.sinks.logstore.LogStore`,
a commit log over immutable parquet files. This module holds the two things
the layers above it share with that store:

- **Table-key policy** — the reference's MySQL unique indexes
  (``UNIQUE_KEYS``, dedup-on-key before write: the M5 duplicate-key
  tolerance of common/errors.go:26-57), the block column each block-keyed
  table is overwritten, retracted and pruned by (``BLOCK_COLUMN``), the
  per-token column of the reference's per-token tables
  (``EXTRA_PARTITIONS``, store/account/account.go:55-56) and the columns
  that must never be NULL (``REQUIRED_NON_NULL``).
- **Guarded frames** — :class:`GuardedDataFrame` and its delegates bracket
  every action on a frame read through a pinned snapshot with that
  snapshot's ``guard()``, so EP3 reads (plans/queries.py StoreQueries) get
  the snapshot's safety check without calling it;
  :func:`sql_over_snapshots` keeps the check across SQL.
"""

from __future__ import annotations

import functools
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.group import GroupedData

# Unique keys per table — mirrors the reference DDL's UNIQUE indexes exactly
# (migration/db/migrate/*.rb, SURVEY §1.4); dedup-on-key before write (M5).
# Tables the reference indexes NON-uniquely (receipt_logs before log_index,
# eth_transfer/erc20_transfer_<hex>) must NOT be deduped: two legitimate rows
# may agree on every indexed column (e.g. two identical-value ERC20 transfers
# in one tx). Idempotency for them comes from overwrite-by-block-range, not
# from keys. ``receipt_logs`` gains a real unique key only because the engine
# carries the per-tx log_index the reference model drops.
UNIQUE_KEYS: dict[str, list[str]] = {
    "block_headers": ["number"],
    "transactions": ["hash"],
    "transaction_receipts": ["tx_hash"],
    "receipt_logs": ["tx_hash", "log_index"],
    "total_difficulty": ["hash"],
    "balances": ["token", "block_number", "address"],
    "total_balances": ["token", "block_number", "group"],
    "erc20": ["address"],
    "subscriptions": ["address"],
    "reorgs": ["from_hash", "to_hash"],
    # maintained latest-state dimensions (streaming/ingest.py): one row per
    # key, updated per batch — the O(batch) replacement for re-scanning full
    # balance history every micro-batch
    "latest_balances": ["token", "address"],
    "latest_totals": ["token", "group"],
}

# Block column per block-keyed table: the range a batch overwrites, a reorg
# retracts and the log's per-file min/max stats prune reads on.
BLOCK_COLUMN: dict[str, str] = {
    "block_headers": "number",
    "transactions": "block_number",
    "transaction_receipts": "block_number",
    "receipt_logs": "block_number",
    "total_difficulty": "block",
    "transfers": "block_number",
    "balances": "block_number",
    "total_balances": "block_number",
}

# Per-token column of the token-keyed tables (per-token sharding, SURVEY
# §1.1); the log records its per-file min/max beside the block column's.
EXTRA_PARTITIONS: dict[str, list[str]] = {
    "transfers": ["token"],
    "balances": ["token"],
}

# Columns that must never be NULL on write: dropDuplicates treats NULLs as
# equal, so a null in a dedup-key column would silently collapse distinct
# rows (e.g. a fetcher omitting log_index would merge all of a transaction's
# logs into one). Fail loudly instead.
REQUIRED_NON_NULL: dict[str, list[str]] = {
    "receipt_logs": ["log_index"],
}


# `pyspark.sql.DataFrame` is the dispatching API class in Spark 4 (classic
# vs connect); subclass the concrete classic implementation so guarded
# frames construct directly over a JVM DataFrame.
try:  # pragma: no cover - import shape depends on pyspark version
    from pyspark.sql.classic.dataframe import DataFrame as _ConcreteDataFrame
except ImportError:  # pyspark < 4: one concrete DataFrame class
    _ConcreteDataFrame = DataFrame


class GuardedDataFrame(_ConcreteDataFrame):
    """A DataFrame whose terminal actions are bracketed by its pinned
    snapshot's ``guard()`` — the DEFAULT-ON form of the snapshot's safety
    check, so a naive consumer of the EP3 query surface (plans/queries.py
    StoreQueries) gets the named
    :class:`~eth_indexer_spark.sinks.logstore.SnapshotExpiredError`
    instead of a raw Spark FileNotFound or a silently partial answer when
    a ``vacuum`` past the retention window deleted files the pin reads,
    without knowing ``guard()`` exists. (A reorg after the pin needs no
    check: a :class:`~eth_indexer_spark.sinks.logstore.LogSnapshot` pins
    an immutable file set.)

    Scope: the guarded frame's OWN terminal actions (`collect`, `toPandas`,
    `count`, `first`/`head`/`take`/`tail`, `show`, `isEmpty`, `foreach*`,
    `toLocalIterator`) are bracketed, and EVERY public DataFrame-returning
    method RE-WRAPS — the full `_GUARDED_TRANSFORMS` surface plus the
    eager `_GUARDED_ACTION_TRANSFORMS` (`checkpoint`/`localCheckpoint`,
    which also bracket the job they run), `randomSplit` element-wise —
    so a caller that composes and then acts keeps the check. The claim is
    literal, not aspirational: a completeness sweep in tests/test_queries.py
    iterates DataFrame's public methods and fails if a DataFrame-returning
    one is unguarded (so a pyspark upgrade adding methods fails the suite
    instead of silently reopening the hole).
    A join/union of two guarded frames pinned to DIFFERENT snapshots is
    bracketed by BOTH pins (:class:`_CompositeSnapshotGuard`, which nests
    each member's own guard so its error translation is kept), so an
    expired pin on EITHER side raises — cross-snapshot composition is
    fully guarded, never silently half-guarded. ``groupBy``/``rollup``/
    ``cube`` return a :class:`GuardedGroupedData` whose ``agg``/``count``/
    ``pivot``/``applyInPandas`` re-wrap into guarded frames, and the
    ``df.na``/``df.stat`` namespaces proxy the same way — every intermediate that
    leaves the DataFrame type re-enters guarded. The remaining escape
    hatches all leave the DataFrame API entirely: SQL over a temp view
    (registration erases the Python wrapper — use
    :func:`sql_over_snapshots` to run SQL and re-enter guarded), ``.rdd``,
    and ``pandas_api()`` — otherwise bracket those actions with
    ``snapshot.guard()`` explicitly (documented, exercised by
    StoreQueries' own internals).
    """

    _GUARDED_ACTIONS = (
        "collect",
        "toPandas",
        "count",
        "first",
        "head",
        "take",
        "tail",
        "show",
        "isEmpty",
        "foreach",
        "foreachPartition",
    )

    # transformations that re-wrap their result so composition keeps the
    # guard (each is a one-line wrapper over the base method)
    _GUARDED_TRANSFORMS = (
        "filter",
        "where",
        "select",
        "selectExpr",
        "withColumn",
        "withColumns",
        "withColumnRenamed",
        "withColumnsRenamed",
        "drop",
        "distinct",
        "dropDuplicates",
        "dropna",
        "fillna",
        "join",
        "crossJoin",
        "union",
        "unionAll",
        "unionByName",
        "exceptAll",
        "intersect",
        "intersectAll",
        "subtract",
        "limit",
        "offset",
        "orderBy",
        "sort",
        "sortWithinPartitions",
        "alias",
        "repartition",
        "repartitionByRange",
        "coalesce",
        "sample",
        "hint",
        # the rest of the DataFrame-returning surface (pyspark 4.1), so the
        # "every DataFrame-returning method re-wraps" claim is literal —
        # pinned by tests/test_queries.py's guard-surface completeness
        # sweep over DataFrame's public methods
        "agg",
        "crosstab",
        "describe",
        "dropDuplicatesWithinWatermark",
        "drop_duplicates",
        "freqItems",
        "lateralJoin",
        "mapInArrow",
        "mapInPandas",
        "melt",
        "observe",
        "repartitionById",
        "replace",
        "sampleBy",
        "summary",
        "to",
        "toDF",
        "transform",
        "transpose",
        "unpivot",
        "withMetadata",
        "withWatermark",
        "cache",
        "persist",
        "unpersist",
        "randomSplit",  # list result: each split re-wraps
    )

    # action-like transforms: materialize EAGERLY (a Spark job runs inside
    # the call), so they both bracket with guard() AND re-wrap the result
    _GUARDED_ACTION_TRANSFORMS = (
        "checkpoint",
        "localCheckpoint",
    )

    def __init__(self, df: DataFrame, snapshot):
        super().__init__(df._jdf, df.sparkSession)
        self._graft_snapshot = snapshot

    @property
    def na(self):
        """``df.na`` with the guard preserved: fill/drop/replace re-wrap."""
        return _GuardedDelegate(
            _ConcreteDataFrame.na.fget(self), self._graft_snapshot
        )

    @property
    def stat(self):
        """``df.stat`` with the guard preserved: crosstab/freqItems/
        sampleBy re-wrap; scalar results (corr/cov) pass through — bracket
        those with ``snapshot.guard()`` if the action-level check matters."""
        return _GuardedDelegate(
            _ConcreteDataFrame.stat.fget(self), self._graft_snapshot
        )

    # rows between mid-iteration checks: the check is one small
    # driver-side directory listing (~µs), so every 8k rows is noise
    # against the py4j transfer cost of the rows themselves
    _ITER_CHECK_EVERY = 8192

    def toLocalIterator(self, prefetchPartitions: bool = False):
        """Iterator form: checked at creation, every ``_ITER_CHECK_EVERY``
        rows, and at EXHAUSTION. A vacuum expiring the pin mid-iteration
        raises within one check window, so at most ``_ITER_CHECK_EVERY``
        rows are yielded under the race (a per-row check would put a file
        stat in the row hot loop for no practical tightening) — callers
        needing an exact all-or-nothing bracket should collect() instead."""
        self._graft_snapshot.check()
        inner = _ConcreteDataFrame.toLocalIterator(self, prefetchPartitions)
        every = self._ITER_CHECK_EVERY
        snapshot = self._graft_snapshot

        def gen():
            for n, row in enumerate(inner, start=1):
                yield row
                if n % every == 0:
                    snapshot.check()
            snapshot.check()

        return gen()


def _make_guarded_action(name: str):
    base = getattr(_ConcreteDataFrame, name)

    def action(self, *args, **kwargs):
        with self._graft_snapshot.guard():
            return base(self, *args, **kwargs)

    action.__name__ = name
    action.__qualname__ = f"GuardedDataFrame.{name}"
    action.__doc__ = (
        f"``DataFrame.{name}`` bracketed by the snapshot's guard (raises "
        f"SnapshotExpiredError when a vacuum deleted files the pin reads)."
    )
    return action


class _CompositeSnapshotGuard:
    """Guard over SEVERAL snapshots at once — the pin of a plan composed
    from guarded frames pinned to different snapshots (e.g. a join of two
    independently-taken snapshots). ``check``/``guard`` fan out to every
    member, so an expired pin on ANY side raises — without this, a
    cross-snapshot join would silently keep only the left pin. Members are
    deduplicated by identity; nesting flattens, so chained joins stay a
    flat member list."""

    __slots__ = ("_parts",)

    def __init__(self, *snapshots):
        parts: list = []
        seen: set[int] = set()
        for s in snapshots:
            members = s._parts if isinstance(s, _CompositeSnapshotGuard) else (s,)
            for m in members:
                if id(m) not in seen:
                    seen.add(id(m))
                    parts.append(m)
        self._parts = tuple(parts)

    def check(self) -> None:
        for s in self._parts:
            s.check()

    @contextmanager
    def guard(self):
        """NEST every member's own ``guard()`` rather than reimplementing
        it as check-yield-check: each member's guard carries semantics
        the composite must not drop — LogSnapshot's translates
        mid-action FileNotFound-class failures into the named
        :class:`SnapshotExpiredError` (a plain post-check would let the
        raw Java stack propagate on exactly the cross-snapshot composition
        this class exists to protect)."""
        with ExitStack() as stack:
            for s in self._parts:
                stack.enter_context(s.guard())
            yield


def _combined_guard(snapshot, args, kwargs):
    """The guard for a transform's OUTPUT: the receiver's snapshot, plus
    the snapshot of every GuardedDataFrame argument (join/union other
    side) pinned elsewhere — one composite pin per composed plan."""
    others = [
        a._graft_snapshot
        for a in (*args, *kwargs.values())
        if isinstance(a, GuardedDataFrame) and a._graft_snapshot is not snapshot
    ]
    if not others:
        return snapshot
    return _CompositeSnapshotGuard(snapshot, *others)


class _GuardedDelegate:
    """Generic guard-preserving proxy for the intermediate namespace
    objects a DataFrame hands out (``GroupedData``, ``df.na``, ``df.stat``):
    every method whose result is a DataFrame re-wraps into a
    :class:`GuardedDataFrame` over the same snapshot; results that are
    themselves intermediates (``pivot`` → GroupedData) stay proxied;
    scalars (``stat.corr``) pass through. One proxy class closes every
    leaves-the-DataFrame-type seam with the same three lines."""

    def __init__(self, inner, snapshot):
        self._graft_inner = inner
        self._graft_snapshot = snapshot

    def __getattr__(self, name):
        attr = getattr(self._graft_inner, name)
        if not callable(attr):
            return attr
        snapshot = self._graft_snapshot

        @functools.wraps(attr)
        def method(*args, **kwargs):
            out = attr(*args, **kwargs)
            if isinstance(out, DataFrame) and not isinstance(out, GuardedDataFrame):
                return GuardedDataFrame(out, snapshot)
            if isinstance(out, GroupedData):
                return GuardedGroupedData(out, snapshot)
            return out

        return method


class GuardedGroupedData(_GuardedDelegate):
    """``GroupedData`` over a guarded frame: ``agg``/``count``/``min``/
    ``max``/``sum``/``avg``/``mean``/``applyInPandas``/``applyInArrow``/…
    re-wrap into guarded frames and ``pivot`` stays guarded-grouped —
    ``snapshot().read(...).groupBy(...).agg(...)`` keeps the guard
    end-to-end."""


def _make_guarded_grouping(name: str):
    base = getattr(_ConcreteDataFrame, name)

    def grouping(self, *args, **kwargs):
        return GuardedGroupedData(base(self, *args, **kwargs), self._graft_snapshot)

    grouping.__name__ = name
    grouping.__qualname__ = f"GuardedDataFrame.{name}"
    grouping.__doc__ = (
        f"``DataFrame.{name}`` returning :class:`GuardedGroupedData`, so "
        f"``.{name}(...).agg(...)`` keeps the snapshot guard."
    )
    return grouping


def _rewrap(out, guard):
    """Re-enter the guarded type: DataFrames wrap, lists of DataFrames
    (``randomSplit``) wrap element-wise, everything else passes through."""
    if isinstance(out, DataFrame) and not isinstance(out, GuardedDataFrame):
        return GuardedDataFrame(out, guard)
    if isinstance(out, list) and out and all(isinstance(x, DataFrame) for x in out):
        return [
            x if isinstance(x, GuardedDataFrame) else GuardedDataFrame(x, guard)
            for x in out
        ]
    return out


def _make_guarded_transform(name: str, bracket: bool = False):
    base = getattr(_ConcreteDataFrame, name)

    def transform(self, *args, **kwargs):
        guard = _combined_guard(self._graft_snapshot, args, kwargs)
        if bracket:  # eager materialization (checkpoint): a job runs here
            with guard.guard():
                out = base(self, *args, **kwargs)
        else:
            out = base(self, *args, **kwargs)
        return _rewrap(out, guard)

    transform.__name__ = name
    transform.__qualname__ = f"GuardedDataFrame.{name}"
    transform.__doc__ = (
        f"``DataFrame.{name}`` returning a guarded frame pinned to the "
        f"receiver's snapshot plus any differently-pinned guarded-frame "
        f"argument's, so composed plans keep the full snapshot guard."
        + (" Eager (runs a job): the call itself is guard-bracketed." if bracket else "")
    )
    return transform


for _name in GuardedDataFrame._GUARDED_ACTIONS:
    setattr(GuardedDataFrame, _name, _make_guarded_action(_name))
for _name in GuardedDataFrame._GUARDED_TRANSFORMS:
    setattr(GuardedDataFrame, _name, _make_guarded_transform(_name))
for _name in GuardedDataFrame._GUARDED_ACTION_TRANSFORMS:
    setattr(GuardedDataFrame, _name, _make_guarded_transform(_name, bracket=True))
for _name in ("groupBy", "groupby", "rollup", "cube"):
    setattr(GuardedDataFrame, _name, _make_guarded_grouping(_name))
del _name


def sql_over_snapshots(spark: SparkSession, query: str, **views) -> DataFrame:
    """Run SQL over temp views of snapshot-pinned frames WITHOUT losing
    the snapshot guard — the guarded form of the one remaining escape hatch
    (``createOrReplaceTempView`` + ``spark.sql`` erases the Python
    wrapper, so the result of plain SQL over a pinned view is an
    unguarded frame).

    Each keyword argument is registered as a temp view under its keyword
    name, the query runs, and the result re-enters
    :class:`GuardedDataFrame` under the composite pin of every guarded
    input (deduplicated; plain DataFrames contribute no pin) — so::

        frame = pinned.headers_in_range(0, 19)
        top = sql_over_snapshots(
            spark,
            "SELECT number, difficulty FROM h ORDER BY difficulty DESC LIMIT 3",
            h=frame,
        )
        top.collect()   # raises SnapshotExpiredError once the pin expired

    behaves exactly like the equivalent DataFrame composition. Views are
    ``createOrReplaceTempView`` (session-scoped, replaceable): callers
    that interleave pins of the same name re-register on every call, so
    the view always reflects the frame passed HERE. With zero guarded
    inputs the plain spark.sql result is returned unchanged."""
    guards: list = []
    for name, frame in views.items():
        frame.createOrReplaceTempView(name)
        if isinstance(frame, GuardedDataFrame):
            g = frame._graft_snapshot
            if all(g is not seen for seen in guards):
                guards.append(g)
    out = spark.sql(query)
    if not guards:
        return out
    guard = guards[0] if len(guards) == 1 else _CompositeSnapshotGuard(*guards)
    return GuardedDataFrame(out, guard)
