"""Streaming curation shell: the incremental dedup family bound to
Structured Streaming's ``foreachBatch`` against the crash-safe store — the
crawl-loop form of the batch curation pipeline. Each arriving micro-batch
of raw documents is

1. **exact-deduped** against the stored digest index
   (:func:`~eth_indexer_spark.operators.dedup.incremental_dedup` — one
   LeftAnti on the content digest; the corpus is never re-deduped),
2. **substring-scrubbed** against the stored gram-count index
   (:func:`~eth_indexer_spark.operators.dedup.incremental_substring_dedup`
   — combined batch+corpus counts; corpus text never re-read), and
3. **landed**: the cleaned documents, the batch's new digests, and the
   batch's gram-count delta each become one immutable delta of their
   table tagged ``ingest_delta=b<batch_id>``
   (:meth:`~eth_indexer_spark.sinks.logstore.LogStore.append_dimension_delta`
   — O(batch) new files plus one log commit, never an O(history)
   rewrite).

Wire it up as ``stream.writeStream.foreachBatch(make_curation_batch_fn(
store)).start()`` — or call the returned function directly from any batch
driver loop; it is a plain ``(DataFrame, batch_id)`` callable.

**Exactly-once across replays**: every append is keyed by the batch id,
re-appending an existing delta is a no-op by construction, and a replay
reads its PRIOR state (every delta except its own — see
``LogStore.read_deltas``) so it recomputes the identical
contribution. Both Spark's normal restart-replay of a completed batch and
the replay of a batch that crashed mid-apply therefore land each table's
delta exactly once: curated documents are never duplicated or lost,
digest rows never repeat, gram counts never double-count. No progress
marker is needed for correctness.

Index-advance semantics: the gram index advances with the batch's
PRE-scrub (post-exact-dedup) text — a duplicated span must stay indexed
after its first excision so the third, fourth, … occurrences in later
batches are excised too. Corpus documents already landed are NOT
retroactively re-scrubbed when a later batch pushes one of their spans
over the threshold (the same forward-only contract as
``incremental_dedup`` / ``incremental_minhash_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_indexer_spark.operators._persist import persist_bounded
from eth_indexer_spark.operators.dedup import (
    incremental_dedup,
    incremental_substring_dedup,
    substring_gram_index,
)


def make_curation_batch_fn(
    store,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 2,
    docs_table: str = "curated_documents",
    digest_table: str = "digest_index",
    gram_table: str = "substring_gram_index",
):
    """A ``foreachBatch``-shaped callable ``(batch_df, batch_id) -> None``
    running the incremental curation pipeline against ``store``."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.select(F.col(id_col), F.col(text_col))
        delta = f"b{int(batch_id)}"

        # prior state = every delta EXCEPT this batch's own: a replay of a
        # half-landed batch must not read its own contribution as corpus
        # (its digests would mark its documents "already deduped" and the
        # recomputed docs delta would come out empty)
        def prior(table: str, schema: str) -> DataFrame:
            if not store.exists(table):
                return spark.createDataFrame([], schema)
            return (
                store.read_deltas(table)
                .filter(F.col("ingest_delta") != delta)
                .drop("ingest_delta")
            )

        digest_idx = prior(digest_table, "digest string, keep_id long")
        # pool-persisted: the three append jobs below each execute their
        # full upstream otherwise — the batch scan, the digest-index read,
        # and both dedup joins would run three times per micro-batch
        keep = persist_bounded(
            "curation.keep", incremental_dedup(batch, digest_idx, text_col, id_col)
        )
        fresh = persist_bounded(
            "curation.fresh",
            batch.join(
                keep.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
            ),
        )

        # delta rows aggregate at read: one immutable partition per batch
        gram_idx = (
            prior(gram_table, "gdigest struct<h1:bigint,h2:bigint>, gram_len int, cnt long")
            .groupBy("gdigest", "gram_len")
            .agg(F.sum("cnt").alias("cnt"))
        )
        cleaned = incremental_substring_dedup(
            fresh, gram_idx, text_col, id_col, min_len=min_len, min_count=min_count
        )
        store.append_dimension_delta(digest_table, keep, delta)
        store.append_dimension_delta(
            gram_table, substring_gram_index(fresh, text_col, id_col, min_len), delta
        )
        store.append_dimension_delta(docs_table, cleaned, delta)

    return fn
