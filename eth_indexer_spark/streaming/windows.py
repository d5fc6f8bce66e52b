"""Event-time windowed aggregation and stateful sessionization.

The reference has NO event-time windows at all (SURVEY §2.9 — its only
"window" is strict per-block sequencing), so this module is part of the
beyond-reference analytics surface: the standard Structured Streaming
late-data toolkit applied to the engine's event streams.

- :func:`windowed_event_aggregate` — tumbling/sliding event-time windows
  with a watermark for late-data eviction. The SAME code path serves batch
  DataFrames (window() is an ordinary grouping expression there), which is
  how the tests pin streaming output to batch ground truth.
- :func:`sessionize` — session windows with an inactivity gap, as a custom
  stateful operator over ``applyInPandasWithState``: per-key state carries
  the open session; events beyond the gap close it and emit a session row.
  This is the template for any custom stateful operator the engine needs
  (the reference's closest analog is the per-block carry-forward state,
  transfer_processor.go:337-356, which the batch pipeline handles with
  windowed prefix sums instead).

Scale notes: both operators shuffle once on the grouping key and hold
bounded per-key state (a window's partial aggregate / one open session);
watermarks bound state growth under unbounded streams. Skewed keys hit the
same AQE skew handling as any other shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import TimestampNTZType

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
_STATE_SCHEMA = "session_start double, last_ts double, n long, total double"


def windowed_event_aggregate(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Per-(window, *keys) count and value sum. On a streaming input the
    watermark bounds how late an event may arrive and still be aggregated;
    on a batch input the identical plan runs without state."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    if events.isStreaming:
        # Engine-wide TIMESTAMP_NTZ policy: parquet written by modern Spark
        # infers TIMESTAMP_NTZ, but withWatermark requires TimestampType
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session TZ is pinned to
        # UTC (session.py), so the cast is a lossless reinterpretation. Batch
        # inputs are left untouched — window() handles NTZ natively and the
        # oracle compare depends on the batch output type staying put.
        if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
            events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = events.withWatermark(ts_col, watermark)
    else:
        df = events
    return (
        df.groupBy(win.alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    idle_timeout_minutes: float | None = None,
) -> DataFrame:
    """Custom stateful session windows over a STREAMING DataFrame.

    A session is a maximal run of a user's events with inter-event gaps
    < ``gap_minutes``. Completed sessions are emitted as soon as a later
    event (or batch) proves the gap. The open tail session stays in state
    until a future batch closes it — or, with ``idle_timeout_minutes`` set,
    until no event for that key arrives for that long in PROCESSING time,
    at which point the open session is flushed and its state removed (so
    state size tracks the ACTIVE key set, not every key ever seen — the
    property that keeps an unbounded-key stream bounded). Arrow-batched
    per-key processing; state is 4 scalars per user.
    """
    gap_s = gap_minutes * 60.0
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )

    def _process(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key

        def _emit(rows: list[tuple[float, float, int, float]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user] * len(rows),
                    "session_start": pd.to_datetime([c[0] for c in rows], unit="s"),
                    "session_end": pd.to_datetime([c[1] for c in rows], unit="s"),
                    "n_events": [c[2] for c in rows],
                    "total_value": [round(c[3], 2) for c in rows],
                }
            )

        if idle_timeout_minutes is not None and state.hasTimedOut:
            # idle key: flush the open session, drop the state entry
            if state.exists:
                start, last, n, total = state.get
                state.remove()
                if start is not None:
                    yield _emit([(start, last, n, total)])
            return

        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0

        closed: list[tuple[float, float, int, float]] = []
        # The iterator yields one ARROW CHUNK at a time, and a key whose
        # batch exceeds maxRecordsPerBatch spans several chunks — sorting
        # each chunk independently would run the gap scan on out-of-order
        # timestamps across chunk boundaries (observed: sessions with
        # session_end before session_start). Concatenate, then sort ONCE.
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            ts = pdf[ts_col].astype("datetime64[ns]").astype("int64") / 1e9
            vals = pdf[value_col].astype(float)
            order = ts.argsort(kind="stable")
            for t, v in zip(ts.iloc[order], vals.iloc[order]):
                if last is not None and (t - last) >= gap_s:
                    closed.append((start, last, n, total))
                    start, n, total = None, 0, 0.0
                if start is None:
                    start = t
                last = t
                n += 1
                total += v

        state.update((start, last, n, total))
        if idle_timeout_minutes is not None:
            state.setTimeoutDuration(int(idle_timeout_minutes * 60_000))
        if closed:
            yield _emit(closed)

    return events.groupBy(user_col).applyInPandasWithState(
        _process,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def sessionize_batch(
    events: DataFrame,
    gap_minutes: float = 30.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch ground truth for :func:`sessionize` (and an oracle-checkable
    operator in its own right): session id = running count of gap breaks per
    user (lag + windowed cumsum — one shuffle on the user key), then one row
    per session."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col)
    # Timestamp subtraction yields a DayTimeInterval for BOTH TIMESTAMP and
    # TIMESTAMP_NTZ inputs, so the gap test is type-agnostic (casting NTZ to
    # DOUBLE is illegal) and stays pure codegen. Fractional-second gaps are
    # preserved to microsecond precision (= timestamp resolution): the
    # literal is rendered with a FIXED 6-digit fraction because Spark's
    # interval parser rejects repr artifacts like '19.999999999999996' and
    # scientific notation like '6e-06'.
    gap_interval = F.expr(f"INTERVAL '{gap_minutes * 60.0:.6f}' SECOND")
    gap_break = (
        F.when(
            F.col(ts_col) - F.lag(F.col(ts_col)).over(w) >= gap_interval,
            1,
        )
        .otherwise(0)
    )
    with_sid = events.withColumn(
        "session_id", F.sum(gap_break).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .drop("session_id")
    )
