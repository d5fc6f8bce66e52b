"""Streaming curation shell scenarios: the incremental dedup family bound
to foreachBatch against the store (streaming/curation.py), plus the
store's delta-append primitive it rides on."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.sinks.logstore import LogStore
from eth_indexer_spark.streaming.curation import make_curation_batch_fn

S = "red gold blue gray"  # the planted duplicated 4-token span


def _batches(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    b0 = mk([(1, "hello world one two"), (2, "hello world one two"),
             (3, f"{S} tail3")])
    b1 = mk([(4, "hello world one two"), (5, f"head5 {S}"),
             (6, "six unique tokens here")])
    b2 = mk([(7, f"{S} tail7")])
    return [b0, b1, b2]


EXPECT = {
    1: "hello world one two",   # within-batch exact dup of 2: min id wins
    3: f"{S} tail3",            # S count 1 at b0 — kept whole (forward-only)
    5: "head5",                 # S's 2nd occurrence: excised
    6: "six unique tokens here",
    7: "tail7",                 # S's 3rd occurrence: excised
}


def _curated(store):
    return {
        r["doc_id"]: r["clean_text"]
        for r in store.read("curated_documents").collect()
    }


def test_curation_stream_end_to_end(spark, tmp_path):
    """Three micro-batches through the shell: cross-batch exact dups drop,
    the duplicated span is excised from its 2nd occurrence onward, earlier
    landed docs are not retroactively re-scrubbed, and the stored indexes
    advance to exactly the from-scratch state of the kept raw docs."""
    store = LogStore(spark, str(tmp_path / "store"))
    fn = make_curation_batch_fn(store, min_len=4)
    for i, b in enumerate(_batches(spark)):
        fn(b, i)

    assert _curated(store) == EXPECT

    # digest index = one row per distinct kept text
    digests = store.read("digest_index").collect()
    assert {r["keep_id"] for r in digests} == {1, 3, 5, 6, 7}

    # gram index aggregates to the from-scratch counts over the kept RAW
    # docs (pre-scrub text — S must stay indexed after its first excision)
    from eth_indexer_spark.operators.dedup import substring_gram_index

    kept_raw = spark.createDataFrame(
        [(1, "hello world one two"), (3, f"{S} tail3"), (5, f"head5 {S}"),
         (6, "six unique tokens here"), (7, f"{S} tail7")],
        "doc_id long, text string",
    )
    stored = {
        (r["gdigest"], r["cnt"])
        for r in store.read("substring_gram_index")
        .groupBy("gdigest", "gram_len")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    scratch = {
        (r["gdigest"], r["cnt"])
        for r in substring_gram_index(kept_raw, "text", "doc_id", min_len=4).collect()
    }
    assert stored == scratch


def test_curation_stream_replay_is_exactly_once(spark, tmp_path):
    """A mid-crash replay (docs delta lost, state deltas landed)
    reconstructs the identical docs delta — no duplicates, no lost
    documents — and a full replay of a completed batch is a no-op."""
    store = LogStore(spark, str(tmp_path / "store"))
    fn = make_curation_batch_fn(store, min_len=4)
    batches = _batches(spark)
    fn(batches[0], 0)

    # mid-crash replay: batch 1's digest/gram deltas commit, then the
    # process dies before its docs delta commits; the replay must read
    # PRIOR state (not its own digests!) and land the identical docs
    real = store.append_dimension_delta

    def crash_before_docs(table, df, delta):
        if table == "curated_documents":
            raise RuntimeError("crash before the docs commit")
        return real(table, df, delta)

    store.append_dimension_delta = crash_before_docs
    with pytest.raises(RuntimeError, match="docs commit"):
        fn(batches[1], 1)
    store.append_dimension_delta = real
    assert {5, 6} - set(_curated(store)) == {5, 6}
    fn(batches[1], 1)
    fn(batches[2], 2)
    assert _curated(store) == EXPECT
    n_digest = store.read("digest_index").count()

    # full replay of batch 1: every delta exists → pure no-op
    fn(batches[1], 1)
    assert _curated(store) == EXPECT
    assert store.read("digest_index").count() == n_digest


def _gram_counts(store):
    return {
        (r["gdigest"], r["gram_len"], r["cnt"])
        for r in store.read("substring_gram_index")
        .groupBy("gdigest", "gram_len")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }


def _digest_rows(store):
    return {
        (r["digest"], r["keep_id"]) for r in store.read("digest_index").collect()
    }


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_curation_stream_crash_matrix(spark, tmp_path, crash_after):
    """Exhaustive crash sweep over the shell's commit sequence: a crash
    injected before the first, between the first and second, and between
    the second and third append_dimension_delta calls (digest → gram →
    docs), each followed by a clean replay of the batch and the rest of
    the stream. Every crash point must converge to the crash-free run's
    exact curated docs, digest rows, and aggregated gram counts — the
    exactly-once-by-construction claim, mechanically checked at every
    partial-landing state."""
    batches = _batches(spark)

    ref = LogStore(spark, str(tmp_path / "ref"))
    ref_fn = make_curation_batch_fn(ref, min_len=4)
    for i, b in enumerate(batches):
        ref_fn(b, i)

    store = LogStore(spark, str(tmp_path / "store"))
    fn = make_curation_batch_fn(store, min_len=4)
    fn(batches[0], 0)

    real = store.append_dimension_delta
    done = {"n": 0}

    def crashing(table, df, delta):
        if done["n"] == crash_after:
            raise RuntimeError("injected crash")
        done["n"] += 1
        return real(table, df, delta)

    store.append_dimension_delta = crashing
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(batches[1], 1)
    store.append_dimension_delta = real

    fn(batches[1], 1)  # replay of the crashed batch
    fn(batches[2], 2)  # stream continues

    assert _curated(store) == _curated(ref) == EXPECT
    assert _digest_rows(store) == _digest_rows(ref)
    assert _gram_counts(store) == _gram_counts(ref)


def test_curation_under_real_structured_streaming(spark, tmp_path):
    """The shell wired to an ACTUAL Structured Streaming query — file
    source, maxFilesPerTrigger=1 (one micro-batch per staged file, mtimes
    pinning arrival order), foreachBatch, checkpointing, availableNow —
    must land the same curated state as direct invocation."""
    import glob

    d = tmp_path / "in"
    d.mkdir()
    for i, b in enumerate(_batches(spark)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = str(d / f"b{i}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    store = LogStore(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream.writeStream.foreachBatch(make_curation_batch_fn(store, min_len=4))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    assert _curated(store) == EXPECT

    # restart over the same source + checkpoint: nothing new to process,
    # state unchanged (the checkpoint + delta idempotence compose)
    q2 = (
        stream.writeStream.foreachBatch(make_curation_batch_fn(store, min_len=4))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination(180)
    assert _curated(store) == EXPECT


def test_append_dimension_delta_idempotent_and_clean_schema(spark, tmp_path):
    """Delta appends: re-appending an existing delta name is a no-op, an
    empty frame adds no rows and poisons nothing, read() hides the
    ingest_delta column while read_deltas() exposes it."""
    store = LogStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    store.append_dimension_delta("t", df, "b0")
    store.append_dimension_delta("t", spark.createDataFrame([(9, "z")], "k long, v string"), "b0")
    assert [(r["k"], r["v"]) for r in store.read("t").collect()] == [(1, "a")]
    assert store.read("t").columns == ["k", "v"]
    assert set(store.read_deltas("t").columns) == {"k", "v", "ingest_delta"}

    # an empty frame adds no rows whether its write emits an empty part
    # file (limit(0)) or no part files at all (the skip guard)
    store.append_dimension_delta("t", df.limit(0), "b1")
    assert store.read("t").count() == 1

    store.append_dimension_delta("t", spark.createDataFrame([(2, "b")], "k long, v string"), "b2")
    assert store.read("t").count() == 2


def test_append_dimension_delta_rejects_unsafe_names(spark, tmp_path):
    """Delta names outside [A-Za-z0-9_.-] (empty, path separators, '=',
    '%', spaces) are rejected at the append, before anything is staged."""
    store = LogStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for bad in ("a%20b", "a/b", "a=b", "", "a b"):
        with pytest.raises(ValueError, match="delta name"):
            store.append_dimension_delta("t", df, bad)
    assert not store.exists("t")


def test_read_keeps_real_ingest_delta_columns_on_plain_dims(spark, tmp_path):
    """The ingest_delta drop is gated on the table actually holding
    deltas: a plain dimension whose DATA has an ingest_delta
    column round-trips intact."""
    store = LogStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "b7")], "k long, ingest_delta string")
    store.update_dimension("audit", df)
    got = store.read("audit")
    assert set(got.columns) == {"k", "ingest_delta"}
    assert got.collect()[0]["ingest_delta"] == "b7"
