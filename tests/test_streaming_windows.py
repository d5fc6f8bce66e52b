"""Event-time windowed aggregation + stateful sessionization tests: the
streaming paths are pinned to their batch ground truth (same operator code
runs both modes for windows; sessionize has an independent window-function
batch form)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from eth_indexer_spark.catalog import load_table
from eth_indexer_spark.streaming.windows import (
    sessionize,
    sessionize_batch,
    windowed_event_aggregate,
)

SF = "/root/testdata/sf0.001"

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _sig(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_windowed_agg_stream_matches_batch(spark, tmp_path):
    """availableNow file stream through the SAME operator must produce the
    batch answer (complete output mode → memory sink)."""
    events = load_table(spark, SF, "events")
    batch = windowed_event_aggregate(events, window="1 hour")

    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        windowed_event_aggregate(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("win_agg")
    assert _sig(got) == _sig(batch)
    assert got.count() > 0


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + timedelta(minutes=m), float(v)) for u, m, v in rows],
        "user_id long, ts timestamp, value double",
    )


SESSION_ROWS = [
    # u1: session A (0, 10, 25) → gap 60min → session B (85) → gap → C (150)
    (1, 0, 1.0), (1, 10, 2.0), (1, 25, 3.0), (1, 85, 4.0), (1, 150, 5.0),
    # u2: one long session, 20-min spacing
    (2, 0, 10.0), (2, 20, 10.0), (2, 40, 10.0),
    # u3: two singleton sessions
    (3, 0, 7.0), (3, 200, 8.0),
]


def test_sessionize_batch_golden(spark):
    got = {
        (r["user_id"], r["session_start"].minute + 60 * r["session_start"].hour): (
            r["n_events"], r["total_value"]
        )
        for r in sessionize_batch(_mk_events(spark, SESSION_ROWS), 30.0).collect()
    }
    assert got == {
        (1, 12 * 60 + 0): (3, 6.0),
        (1, 13 * 60 + 25): (1, 4.0),   # 85 min after 12:00
        (1, 14 * 60 + 30): (1, 5.0),   # 150 min
        (2, 12 * 60 + 0): (3, 30.0),
        (3, 12 * 60 + 0): (1, 7.0),
        (3, 15 * 60 + 20): (1, 8.0),   # 200 min
    }


def test_sessionize_stream_emits_closed_sessions(spark, tmp_path):
    """applyInPandasWithState: sessions proven closed by a later event are
    emitted; each user's open tail session stays in state (documented
    contract — a later batch or timeout would flush it)."""
    events = _mk_events(spark, SESSION_ROWS)
    src = str(tmp_path / "sess")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionize(stream, gap_minutes=30.0)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"].minute + 60 * r["session_start"].hour): (
            r["n_events"], r["total_value"]
        )
        for r in spark.table("sessions").collect()
    }
    # closed = all batch sessions except each user's last
    assert got == {
        (1, 12 * 60 + 0): (3, 6.0),
        (1, 13 * 60 + 25): (1, 4.0),
        (3, 12 * 60 + 0): (1, 7.0),
    }


def test_sessionize_stream_closes_across_batches(spark, tmp_path):
    """A second batch arriving later must close sessions left open by the
    first (cross-batch state carry)."""
    first = [r for r in SESSION_ROWS if r[0] == 2]
    second = [(2, 300, 1.0)]  # 5h later → closes the open session
    d = tmp_path / "sess2"
    d.mkdir()
    import glob
    import os
    import shutil

    for i, rows in enumerate([first, second]):
        stage = str(tmp_path / f"stage{i}")
        _mk_events(spark, rows).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = str(d / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sessionize(stream, gap_minutes=30.0)
        .writeStream.format("memory")
        .queryName("sessions2")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("sessions2").collect()
    ]
    assert got == [(2, 3, 30.0)]


def test_sessionize_stream_and_batch_gap_semantics_lockstep(spark, tmp_path):
    """Property test pinning the two sessionize implementations to ONE gap
    semantic (close when inter-event gap >= gap): on a seeded random event
    set, the streaming operator's emitted (closed) sessions must be EXACTLY
    the batch form's sessions minus each user's final (still-open) session —
    including boundary events landing exactly ON the gap. If either path's
    comparison drifts (> vs >=, seconds vs interval), this fails."""
    import random

    rng = random.Random(42)
    rows = []
    for user in range(1, 9):
        minute = 0
        for _ in range(rng.randint(3, 25)):
            # gaps draw from a set straddling the 30-min boundary, including
            # exactly 30 (must CLOSE: semantics are >= gap)
            minute += rng.choice([1, 5, 29, 30, 31, 90])
            rows.append((user, minute, float(rng.randint(1, 9))))
    events = _mk_events(spark, rows)

    batch = sessionize_batch(events, gap_minutes=30.0)
    key = lambda r: (r["user_id"], str(r["session_start"]), str(r["session_end"]),
                     r["n_events"], r["total_value"])
    batch_rows = sorted(batch.collect(), key=key)
    # drop each user's last session (stays open in streaming state)
    open_tails = {}
    for r in batch_rows:
        u = r["user_id"]
        if u not in open_tails or str(r["session_start"]) > str(open_tails[u]["session_start"]):
            open_tails[u] = r
    want = sorted(
        (key(r) for r in batch_rows if key(r) != key(open_tails[r["user_id"]])),
    )

    src = str(tmp_path / "lockstep")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionize(stream, gap_minutes=30.0)
        .writeStream.format("memory")
        .queryName("lockstep_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_lockstep"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(key(r) for r in spark.table("lockstep_sessions").collect())
    assert got == want and len(want) > 10


def test_sessionize_idle_timeout_flushes_open_sessions(spark, tmp_path):
    """With idle_timeout_minutes set, keys that stop sending events have
    their open sessions FLUSHED by later triggers (processing-time timeout)
    and their state removed — bounded state over unbounded key churn. With a
    continuous trigger, EVERY idle key eventually drains: user 2 flushes
    when batch 2 arrives; user 7 flushes on a subsequent empty trigger."""
    import glob
    import os
    import shutil
    import time

    d = tmp_path / "sess_timeout"
    d.mkdir()
    batches = [
        [(2, 0, 10.0), (2, 20, 10.0)],  # user 2: one open session
        [(7, 300, 1.0)],                # later trigger fires user 2's timeout
    ]
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"to_stage{i}")
        _mk_events(spark, rows).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = str(d / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sessionize(stream, gap_minutes=30.0, idle_timeout_minutes=0.0001)
        .writeStream.format("memory")
        .queryName("sessions_timeout")
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .start()
    )
    try:
        deadline = time.time() + 90
        got = []
        while time.time() < deadline:
            got = sorted(
                (r["user_id"], r["n_events"], r["total_value"])
                for r in spark.table("sessions_timeout").collect()
            )
            if len(got) >= 2:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == [(2, 2, 20.0), (7, 1, 1.0)]


def test_sessionize_sorts_across_arrow_chunks(spark, tmp_path):
    """A key whose micro-batch exceeds maxRecordsPerBatch arrives as SEVERAL
    Arrow chunks; sorting each chunk independently ran the gap scan on
    out-of-order timestamps (emitting sessions whose end precedes their
    start). The whole batch must be concatenated and sorted once."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        # descending-ish order within one batch: chunk 1 = late events,
        # chunk 2 = early events; correct result is two sessions
        rows = [(1, 1000, 1.0), (1, 2000, 2.0), (1, 50, 3.0), (1, 60, 4.0)]
        events = spark.createDataFrame(
            [(u, __import__("datetime").datetime.utcfromtimestamp(t), v) for u, t, v in rows],
            "user_id long, ts timestamp, value double",
        )
        src = str(tmp_path / "chunks")
        events.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            sessionize(stream, gap_minutes=1.0)
            .writeStream.format("memory")
            .queryName("chunked_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_chunks"))
            .start()
        )
        q.awaitTermination(120)
        got = [
            (r["session_start"], r["session_end"], r["n_events"], r["total_value"])
            for r in spark.table("chunked_sessions").collect()
        ]
        for start, end, _, _ in got:
            assert start <= end
        # events 50,60 close (gap to 1000 >= 60s); 1000 closes (gap to 2000)
        import datetime as dt
        assert sorted(got) == [
            (dt.datetime(1970, 1, 1, 0, 0, 50), dt.datetime(1970, 1, 1, 0, 1, 0), 2, 7.0),
            (dt.datetime(1970, 1, 1, 0, 16, 40), dt.datetime(1970, 1, 1, 0, 16, 40), 1, 1.0),
        ]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_sessionize_batch_fractional_gap_interval(spark):
    """Fractional gaps whose float repr has >9 fraction digits or uses
    scientific notation must still build a valid interval literal (fixed
    6-digit rendering) — INTERVAL '19.999999999999996' SECOND and
    '6e-06' are both rejected by Spark's parser."""
    import datetime as dt

    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1.0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 10), 2.0),
            (1, dt.datetime(2024, 1, 1, 0, 0, 40), 3.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    # gap = 1/3 min → 19.999999999999996 s repr; 20s and 30s gaps straddle it
    got = sorted(
        (r["n_events"], r["total_value"])
        for r in sessionize_batch(events, gap_minutes=1 / 3).collect()
    )
    assert got == [(1, 3.0), (2, 3.0)]
    # scientific-notation repr (6e-06 s): every event its own session
    tiny = sessionize_batch(events, gap_minutes=1e-7).count()
    assert tiny == 3
