"""Document deduplication operators for large-scale training-data pipelines.

Four strategies, all UDF-free (pure Catalyst expressions → whole-stage
codegen), ordered by cost/recall trade-off:

- :func:`exact_dedup` — hash-groupBy on a content digest. One shuffle of
  (digest, id); the 100 TB workhorse for byte-identical copies.
- :func:`ngram_jaccard_pairs` — exact near-dup pairs. Default: the
  DF-capped inverted index (boilerplate shingles dropped from the
  similarity itself). ``exact=True``: TRUE Jaccard via prefix filtering
  (SSJoin/AllPairs/PPJoin): only each document's rarest
  ``n - ceil(t*n) + 1`` shingles enter the candidate join, candidates are
  verified on the full sets — a ubiquitous shingle generates zero
  candidates instead of O(N²). Still quadratic when the OUTPUT is
  quadratic (everything genuinely similar), which is what MinHash fixes.
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH: candidates
  only when a band collides, then exact-Jaccard verification. Cost is
  O(N × signature) + bucket-local joins: the 100 TB near-dup path.
- :func:`simhash` / :func:`simhash_near_pairs` — 64-bit SimHash fingerprints;
  near-dups = pairs within Hamming distance ``max_hamming``, found by the
  byte-band pigeonhole trick (distance ≤ 8 ⇒ at least one of 8 bytes equal).

Shingling/hashing conventions shared by all: whitespace word tokens,
``k``-word shingles, ``xxhash64(seed_tag || shingle)`` as the hash family
(one seed tag per hash function — avoids 64-bit modular arithmetic that ANSI
mode would reject on overflow).
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from eth_indexer_spark.operators._colmemo import memo_col
from eth_indexer_spark.operators._persist import persist_bounded


def content_digest(text_col) -> Column:
    """Canonical exact-dup key: md5 of the raw text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct content digest with the
    minimum id as the canonical survivor and the group size."""
    return (
        df.select(content_digest(text_col).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    batch: DataFrame, index: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Online/batch-incremental exact dedup: keep only the rows of ``batch``
    whose content digest is neither already in the corpus ``index`` (a
    one-column ``digest`` frame, e.g. the stored digest table of everything
    ingested so far) nor duplicated earlier within the batch itself
    (min-id-wins, matching :func:`exact_dedup`).

    The shape every streaming/append corpus needs: each arriving batch costs
    one LeftAnti against the index (hash join on the digest — at scale the
    index is a digest-bucketed table so the join co-locates) plus one
    (digest, id) groupBy of the batch. The full-corpus re-dedup never runs
    again. Returns ``(digest, keep_id)`` — append these digests back to the
    index to advance it."""
    fresh = batch.select(
        content_digest(text_col).alias("digest"), F.col(id_col)
    ).join(index.select("digest"), "digest", "left_anti")
    return fresh.groupBy("digest").agg(F.min(id_col).alias("keep_id"))


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    delim: str = "\n",
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-wide line-level deduplication (the RefinedWeb/CCNet boilerplate
    scrub): drop every line that appears in at least ``min_df`` DISTINCT
    documents — navigation chrome, cookie banners, license footers — and
    reassemble each document from its surviving lines in original order.
    Documents whose every line is boilerplate drop out entirely (the
    RefinedWeb convention); a line repeated only WITHIN one document is
    kept (that is :mod:`quality`'s repetition signal, not cross-doc
    boilerplate).

    100 TB shape: a map-side posexplode, then one map-side-combined groupBy
    on ``md5(line)`` for the document-frequency count (the 128-bit digest —
    not the line text — is what shuffles, so key width is constant and
    collisions are negligible where a 64-bit hash's would not be), a
    LeftAnti of the exploded lines against the hot-digest set, and one
    groupBy(id) to reassemble. Three shuffles total, each on a bounded-width
    key; no state, no UDF, engine-reproducible (the registered
    ``x_line_dedup`` query is oracle-checked).

    ``delim`` is both the split regex and the re-join separator, so it must
    be a literal, regex-safe string (the default newline is). Returns
    ``(id, clean_text, n_lines_kept)``.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "line"),
    ).withColumn("ldigest", F.md5("line"))
    hot = (
        lines.groupBy("ldigest")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("ldigest")
    )
    kept = lines.join(hot, "ldigest", "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-wide exact SUBSTRING deduplication (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" EXACTSUBSTR
    step, re-expressed over fixed-length token grams instead of a suffix
    array): excise from every document each token span of ``min_len`` tokens
    that occurs at least ``min_count`` times anywhere in the corpus —
    including a second time inside the same document — and reassemble the
    surviving tokens in order. Complements :func:`line_dedup` (line
    boilerplate) and :func:`exact_dedup` (whole documents): this is the form
    that catches long quoted passages, templated paragraphs, and licence
    blocks embedded mid-document.

    Gram form of the suffix-array semantics: a token is removed iff it lies
    inside some duplicated ``min_len``-gram. Every duplicated span of length
    ≥ ``min_len`` has all its ``min_len``-grams duplicated, so the whole
    span is removed (the suffix-array guarantee); conversely a removed token
    always sits inside a duplicated ``min_len``-gram, so nothing unique
    longer than ``min_len − 1`` tokens is lost. Documents whose every token
    is covered drop out entirely (the :func:`line_dedup` convention).

    100 TB shape: documents are never token-exploded. One posexplode of the
    128-bit gram digests (the digest — not the gram text — is what
    shuffles), a map-side-combined groupBy for the corpus-wide occurrence
    count, a LeftSemi back onto the per-doc gram stream (unhinted: AQE
    broadcasts a small hot set, shuffles a pathological one), a skinny
    groupBy(id) packing each doc's duplicated start offsets into one array
    row, and a join of that minority back to the corpus. Span excision and
    reassembly are then pure array expressions per row — zero further
    shuffle, no UDF. Per-row cost of the coverage test is
    O(tokens × dup-starts-in-doc); dup starts are the duplicated minority,
    and both factors are bounded by document length, never corpus size.

    Returns ``(id, out_col, n_tokens_kept)``; registered as
    ``x_substring_dedup`` with a full DuckDB oracle."""
    L = int(min_len)
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    base, dup = _dup_gram_candidates(df, text_col, id_col, L, min_count)
    dup_starts = dup.groupBy(id_col).agg(F.collect_list("__spos").alias("__starts"))
    return _excise_covered_spans(base, dup_starts, id_col, L, out_col)


def _dup_gram_candidates(
    df: DataFrame, text_col: str, id_col: str, L: int, min_count: int
) -> tuple:
    """Shared candidate stage of :func:`substring_dedup` and
    :func:`duplicated_spans` — ONE copy of the hot-gram rule (corpus-wide
    occurrence count ≥ ``min_count``, within-doc repeats counted), so the
    tested invariant "span coverage == excised positions" cannot drift.
    Returns ``(base, dup)``: the ``(id, __w)`` token arrays and the
    ``(id, __spos)`` duplicated gram starts.

    Spread BEFORE the CPU-heavy gram hashing and excision expressions — a
    small single-file corpus otherwise serializes into one task (no-op when
    the scan already parallelizes; see :func:`_spread`). The gram stream is
    pool-persisted under ONE site for both callers: their plans coincide on
    the same corpus, so they share a single cache entry (and the pool's
    pool-wide same-plan protection keeps that sharing safe).

    Exchange shape — found at the sf1→sf10 decade, not on paper: the hot
    set is the corpus's duplicated digests, which grows WITH the corpus
    (5M digests at sf10 — ~200 MB, correctly not broadcastable), so the
    earlier "unhinted, AQE broadcasts it" plan degraded at scale to a
    SortMergeJoin that re-shuffled and SORTED the full gram stream
    (measured ×14.45 for ×10 data). The gram stream is therefore persisted
    PRE-PARTITIONED on the digest: the occurrence count aggregates without
    any exchange, the hot set inherits the same partitioning, and the
    LeftSemi back-probe is a co-partitioned shuffle-hash join — zero
    additional exchange, zero sort, building only the per-partition hot
    slice. ONE exchange of the gram stream total, at any scale."""
    df = _spread(df, id_col)
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    # (id, start, digest) for every L-token gram; docs shorter than L have
    # no grams and can never be excised from. Pool-persisted: consumed by
    # both the occurrence count and the LeftSemi back-probe, and the md5
    # gram hashing is the CPU-heavy stage worth materializing (the same
    # rationale as the MinHash rows persist below).
    grams = persist_bounded(
        "dedup.substring.grams",
        _substring_grams(df, text_col, id_col, L).repartition("__gdigest"),
    )
    hot = (
        grams.groupBy("__gdigest")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("__gdigest")
    )
    dup = grams.join(hot.hint("shuffle_hash"), "__gdigest", "left_semi").select(
        F.col(id_col), "__spos"
    )
    return base, dup


# Excision-test gate: docs with at most this many duplicated-gram starts use
# the raw per-start exists() (cheaper per token at small counts — A/B-measured
# below in _excise_covered_spans); above it, starts are merged into disjoint
# coverage intervals first, bounding the dup-heavy worst case. At the gate the
# raw test is ≤ 32 compares/token — well under a millisecond per typical doc —
# so the two forms cross over far above, not below, this value; the constant
# is a straggler bound, not a tuning knob.
_MERGE_GATE_STARTS = 32


def _merged_dup_intervals(starts: Column, L: int) -> Column:
    """``array<int>`` of duplicated-gram start offsets → sorted
    ``array<struct<lo:int,hi:int>>`` of DISJOINT merged coverage intervals
    ``[lo, hi)`` — the union of ``[s, s+L)`` over the starts. Two starts
    chain into one interval iff the later one begins at or before the
    earlier one's end (``s_{j+1} <= s_j + L``; touching spans cover
    contiguously), so within a sorted run a chain's union is
    ``[first, last+L)`` exactly.

    Built without an accumulator fold: a fold's ``concat(acc, ...)`` step
    copies the accumulator per element (O(m²) — the same class as the
    ``_bind`` splice trap). Instead, over the ONCE-sorted starts, two O(m)
    filters pick each chain's first and last start (a start opens a chain
    iff it clears its predecessor's end; closes one iff its successor
    starts a new chain), and ``zip_with`` pairs them positionally — chains
    partition the sorted sequence, so the k-th opener matches the k-th
    closer. The sorted array is ``_bind``-bound (``element_at`` neighbour
    probes inside the filter lambdas must index a materialized array, not
    re-sort per element)."""

    def body(ss):
        n = F.size(ss)
        los = F.filter(
            ss,
            lambda s, i: F.when(i == 0, F.lit(True)).otherwise(
                s > F.element_at(ss, i) + L
            ),
        )
        ends = F.filter(
            ss,
            lambda s, i: F.when(i == n - 1, F.lit(True)).otherwise(
                F.element_at(ss, i + 2) > s + L
            ),
        )
        return F.zip_with(
            los, ends, lambda lo, e: F.struct(lo.alias("lo"), (e + L).alias("hi"))
        )

    return _bind(F.array_sort(starts), body)


def _excise_covered_spans(
    base: DataFrame, dup_starts: DataFrame, id_col: str, L: int, out_col: str
) -> DataFrame:
    """Shared excision/reassembly tail of the batch and incremental
    substring-dedup forms — ONE copy of the semantics-critical coverage
    rule, so the property-tested batch==incremental equality cannot drift.
    ``base`` is ``(id, __w)`` (the token arrays), ``dup_starts`` is
    ``(id, __starts)`` (each doc's duplicated gram start offsets).

    The join is hinted shuffle-hash building the dup_starts side: on a
    dup-heavy corpus that side approaches one row per document, past any
    broadcast threshold, and the default SortMergeJoin would SORT the base
    side — every document's full token array through the sorter (the
    dominant cost of the pre-fix ×14 sf10 regression). Shuffle-hash keeps
    both sides exchange-once and sort-free; the built side is the skinny
    start-offset arrays, a bounded fraction of a partition."""
    joined = base.join(dup_starts.hint("shuffle_hash"), id_col, "left").withColumn(
        "__starts", F.coalesce("__starts", F.array().cast("array<int>"))
    )

    # token i survives iff no duplicated gram start s has s <= i < s + L.
    # Two per-row forms, size-gated: the raw exists() over the start array
    # (primitive int compares, zero setup — measured FASTER at bench start
    # counts: a merged-interval-always variant lost 5 of 6 clean alternating
    # fresh-process pairs, ~10-40%), and the _merged_dup_intervals form for
    # dup-HEAVY documents, where overlapping duplication inflates the start
    # count and the raw test goes O(tokens × starts) — a 100k-token
    # fully-duplicated document is ~10¹⁰ comparisons in ONE task, a
    # 100 TB straggler. Above the gate the O(m log m) merge is noise and the
    # test collapses to O(tokens × chains). Start order inside the collected
    # array is irrelevant to both forms (exists() is order-free; the merged
    # form sorts first), so collect_list's nondeterministic order never
    # reaches the output. The interval array is _bind-bound: spliced into
    # the per-token lambda it would re-sort/merge PER TOKEN.
    toks = F.transform(
        "__w", lambda tok, i: F.struct(tok.alias("tok"), i.alias("i"))
    )
    raw_kept = F.filter(
        toks,
        lambda x: ~F.exists(
            "__starts", lambda s: (s <= x["i"]) & (x["i"] < s + L)
        ),
    )
    merged_kept = _bind(
        _merged_dup_intervals(F.col("__starts"), L),
        lambda ivl: F.filter(
            toks,
            lambda x: ~F.exists(
                ivl, lambda v: (v["lo"] <= x["i"]) & (x["i"] < v["hi"])
            ),
        ),
    )
    kept = F.when(
        F.size("__starts") <= _MERGE_GATE_STARTS, raw_kept
    ).otherwise(merged_kept)
    return (
        joined.withColumn("__kept", kept)
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.transform("__kept", lambda x: x["tok"])
            ).alias(out_col),
            F.size("__kept").cast("long").alias("n_tokens_kept"),
        )
        .filter(F.col("n_tokens_kept") > 0)
    )


def _substring_grams(df: DataFrame, text_col: str, id_col: str, L: int) -> DataFrame:
    """(id, __spos, __gdigest) for every L-token gram of every document —
    the shared gram stream of the batch and incremental substring-dedup
    forms (identical digests, so incremental results match batch mode
    bit-for-bit).

    The digest is a struct of two independently-seeded xxhash64 longs —
    128 collision bits, the same safety class as the previous md5 form
    (~|grams|²/2¹²⁹ corpus-wide false-equality odds: immaterial at any
    scale), but ~5× cheaper to compute (xxhash64 vs full MD5 rounds) and
    16 bytes on the wire instead of a 32-char hex STRING (~44 bytes with
    UTF8 overhead) — the digest is what shuffles, so the gram exchange
    narrows ~2.7× for free. A single 64-bit hash would NOT be enough
    here: at 100 TB the corpus holds ~10¹³ grams and birthday collisions
    (~10⁶ at 64 bits) would excise spans that were never duplicated."""
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), words.alias("__w"))
    # __w is a materialized COLUMN (O(1) lambda-body reference) and Slice
    # copies O(L) refs per gram — this shape is already linear; see _bind
    # for the splice trap this must never regress into. The gram strings
    # are materialized as an array FIRST, then hashed twice per element —
    # grams is the outer transform's input array (evaluated once), not an
    # expression spliced into the lambda body.
    grams = F.transform(
        F.sequence(F.lit(0), F.size("__w") - L),
        lambda s: F.concat_ws(" ", F.slice(F.col("__w"), s + 1, L)),
    )
    return base.filter(F.size("__w") >= L).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                grams,
                lambda g: F.struct(
                    F.xxhash64(g).alias("h1"), F.xxhash64(F.lit(1), g).alias("h2")
                ),
            )
        ).alias("__spos", "__gdigest"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Audit form of :func:`substring_dedup`: instead of excising, REPORT
    each document's maximal duplicated regions — the classic
    interval-merge of the covered ``[start, start+min_len)`` windows, so a
    pipeline can quantify and inspect what the scrub would remove before
    committing to it. Returns ``(id, span_start, span_end, n_span_tokens,
    span_text)`` with token positions 0-based and ``span_end`` exclusive;
    overlapping or abutting windows merge into one span (their covered
    token sets are contiguous).

    Same candidate machinery as :func:`substring_dedup` — literally the
    same code path, :func:`_dup_gram_candidates`, so the audited spans and
    the scrub's excisions come from one hot-gram rule; the merge itself is
    one window pass over the duplicated-start MINORITY partitioned by doc
    id (running max-end → new-group flag → running group sum — bounded per
    document, embarrassingly parallel across documents), then a
    groupBy(id, group) and one join back to the token arrays for the span
    text."""
    L = int(min_len)
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    base, cand = _dup_gram_candidates(df, text_col, id_col, L, min_count)
    dup = cand.select(F.col(id_col), F.col("__spos"), (F.col("__spos") + L).alias("__e"))

    w = W.partitionBy(id_col).orderBy("__spos")
    prev_max_end = F.max("__e").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "__new_grp",
        F.when(prev_max_end.isNull() | (F.col("__spos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "__grp", F.sum("__new_grp").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    spans = flagged.groupBy(id_col, "__grp").agg(
        F.min("__spos").cast("long").alias("span_start"),
        F.max("__e").cast("long").alias("span_end"),
    )
    return spans.join(base, id_col).select(
        F.col(id_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("n_span_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                "__w",
                (F.col("span_start") + 1).cast("int"),
                (F.col("span_end") - F.col("span_start")).cast("int"),
            ),
        ).alias("span_text"),
    )


def substring_gram_index(
    df: DataFrame, text_col: str, id_col: str, min_len: int = 50
) -> DataFrame:
    """The storable substring-dedup index: corpus-wide occurrence counts
    ``(gdigest, gram_len, cnt)`` of every ``min_len``-token gram. Persist
    this (e.g. through the store's dimension path) and each new crawl
    batch is scrubbed against the WHOLE corpus via
    :func:`incremental_substring_dedup` without re-reading corpus text.
    Advance it per batch by appending the batch's own index rows and
    re-aggregating (``union → groupBy(gdigest, gram_len).sum`` — or let
    the store hold append-only delta rows and aggregate at read).

    ``gram_len`` records which span length the digests were built from:
    one index table can hold several lengths, and the scrub reads only
    the rows matching its own ``min_len`` — a mismatched index therefore
    contributes nothing VISIBLY (the scrub degrades to within-batch
    dedup) instead of silently under-excising against wrong-length
    digests that could never match."""
    L = int(min_len)
    return (
        _substring_grams(_spread(df, id_col), text_col, id_col, L)
        .groupBy("__gdigest")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("__gdigest").alias("gdigest"),
            F.lit(L).cast("int").alias("gram_len"),
            "cnt",
        )
    )


def incremental_substring_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Online form of :func:`substring_dedup`: scrub an arriving batch
    against a stored corpus gram index (:func:`substring_gram_index` rows,
    same ``min_len``) — a span is excised from a batch document when its
    combined occurrence count (batch + stored corpus) reaches
    ``min_count``. Equals batch-mode :func:`substring_dedup` over
    (corpus ∪ batch) restricted to the batch's documents (coverage depends
    only on combined gram counts — property-tested), without ever
    re-reading corpus text. Corpus documents are NOT retroactively
    re-scrubbed when a new batch pushes one of their spans over the
    threshold — the standard streaming-curation compromise, same contract
    as :func:`incremental_dedup` / :func:`incremental_minhash_pairs`.

    100 TB shape: the corpus contributes only its skinny (digest, cnt)
    index — one groupBy over the BATCH's grams (exchange-free: the gram
    stream is persisted digest-partitioned), a left join to the index
    keyed on the 128-bit digest (unhinted: AQE broadcasts a small index,
    shuffles a big one onto the grams' partitioning), a co-partitioned
    sort-free LeftSemi back onto the batch gram stream, and the same
    zero-further-shuffle array-expression excision as batch mode (one
    shared code path — :func:`_excise_covered_spans`).

    The index's ``gram_len`` column is filtered to this call's
    ``min_len``, so a multi-length index works and a wrong-length index
    contributes nothing (legacy indexes without the column are accepted
    as-is — their digests were necessarily built with SOME length, and
    matching is still digest-exact)."""
    L = int(min_len)
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    batch = _spread(batch, id_col)
    base = batch.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    # pool-persisted for the same two consumers as batch mode, and
    # pre-partitioned on the digest for the same one-exchange shape (see
    # _dup_gram_candidates): count aggregates exchange-free, the index
    # join shuffles only the skinny index, the semi back-probe is
    # co-partitioned
    grams = persist_bounded(
        "dedup.substring_inc.grams",
        _substring_grams(batch, text_col, id_col, L).repartition("__gdigest"),
    )

    if "gram_len" in index.columns:
        index = index.filter(F.col("gram_len") == L)
    batch_counts = grams.groupBy("__gdigest").agg(F.count(F.lit(1)).alias("__bcnt"))
    hot = (
        batch_counts.join(
            index.select(F.col("gdigest").alias("__gdigest"), F.col("cnt").alias("__icnt")),
            "__gdigest",
            "left",
        )
        .filter(F.col("__bcnt") + F.coalesce("__icnt", F.lit(0)) >= min_count)
        .select("__gdigest")
    )
    dup_starts = (
        grams.join(hot.hint("shuffle_hash"), "__gdigest", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("__spos").alias("__starts"))
    )
    return _excise_covered_spans(base, dup_starts, id_col, L, out_col)


def _bind(expr: Column, body) -> Column:
    """Catalyst "let": evaluate ``expr`` ONCE per row and hand the result to
    ``body`` as a bound lambda variable (via a one-element ``transform``).

    Splicing a Column expression into a higher-order-function lambda
    re-evaluates it PER ELEMENT — there is no common-subexpression
    elimination inside lambda bodies — so an O(len) sub-expression (a
    split, a gram-hash transform) inside a per-position lambda silently
    becomes an O(len²) plan. Projection staging (materialize the array as
    a column first) fixes the happy path but NOT the optimizer rewrites:
    filter pushdown (e.g. the ``size(..) > 0`` filter
    InferFiltersFromGenerate adds below an explode) substitutes the alias
    back into the predicate and resurrects the quadratic form at the scan
    (measured: a 300-char corpus hanging for tens of minutes on one task).
    A lambda binding cannot be inlined by any rewrite, so the fix holds in
    every plan position."""
    return F.transform(F.array(expr), body)[0]


def word_shingles(text_col, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text (array<string>).
    Documents shorter than k words yield an empty array.

    The split-token array is :func:`_bind`-bound: the previous form spliced
    the ``split(text)`` expression into the per-position lambda, where it
    re-evaluates per ELEMENT — O(words·len) per document, fine on 300-char
    fixtures, catastrophic on real multi-KB documents (and a pushed-down
    ``size(..) > 0`` filter paid it again at the scan). The per-position
    ``slice`` itself is O(k) — copying ``k`` refs from the BOUND array is
    cheap; only the unbound splice was the trap. Shingle values are
    bit-identical.

    String-named columns memoize the finished tree (:mod:`._colmemo`):
    the ~100-round-trip py4j build otherwise repeats per query
    construction."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def build():
        def body(words):
            n = F.size(words)
            idx = F.sequence(F.lit(1), n - (k - 1))
            sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
            return F.when(n >= k, F.array_distinct(sh)).otherwise(
                F.array().cast("array<string>")
            )

        return _bind(F.split(c, " "), body)

    if isinstance(text_col, str):
        return memo_col(("word_shingles", text_col, k), build)
    return build()


def _raw_word_shingles(text_col, k: int = 3) -> Column:
    """:func:`word_shingles` WITHOUT the distinct — the raw per-position
    shingle stream, for consumers that dedupe downstream on the hashes
    (``minhash_index``). Same _bind discipline; memoized for string
    names."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def build():
        def body(words):
            n = F.size(words)
            idx = F.sequence(F.lit(1), n - (k - 1))
            sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
            return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))

        return _bind(F.split(c, " "), body)

    if isinstance(text_col, str):
        return memo_col(("raw_word_shingles", text_col, k), build)
    return build()


def hashed_word_shingles(text_col, k: int = 3) -> Column:
    """Distinct k-word shingles as 64-bit hashes (array<bigint>), computed
    WITHOUT materializing the shingle strings: each word is xxhash64-ed
    once, then every shingle hash is one xxhash64 over its k word hashes —
    O(words) short-string hashes plus O(words) fixed-width long hashes,
    versus the string form's O(words) concat allocations + O(words)
    ~(k·word_len)-char string hashes.

    Drop-in for ``transform(word_shingles(c, k), s -> xxhash64(s))`` in
    consumers that only ever compare shingles BY HASH (the Jaccard
    pair/cap/verify family): two shingles are equal iff their word triples
    are equal, under either hash family, modulo the same ~2⁻⁶⁴-per-pair
    collision odds the string-hash form already accepts — so pair outputs
    are identical in practice. Also the default gram key of
    ``decontam.contamination_report`` (counts-only output — hash-join hits
    ≡ string-join hits under the same argument). NOT for MinHash
    (`minhash_index` derives signature values from the string-hash family;
    changing it would change every stored signature and LSH bucket) nor
    for the binary ``contaminated_ids``/``decontaminate`` path (its oracle
    compares the gram-set predicate directly).

    Both the word array and the word-hash array are :func:`_bind`-bound —
    an unbound word-hash transform inside the per-position lambda would
    re-hash every word per shingle position (the O(len²) splice trap).

    String-named columns memoize the finished tree (:mod:`._colmemo`), as
    :func:`word_shingles` does."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def build():
        def body(words):
            def inner(h):
                n = F.size(h)
                idx = F.sequence(F.lit(1), n - (k - 1))
                sh = F.transform(
                    idx,
                    lambda i: F.xxhash64(*[F.element_at(h, i + j) for j in range(k)]),
                )
                return F.when(n >= k, F.array_distinct(sh)).otherwise(
                    F.array().cast("array<bigint>")
                )

            return _bind(F.transform(words, lambda w: F.xxhash64(w)), inner)

        return _bind(F.split(c, " "), body)

    if isinstance(text_col, str):
        return memo_col(("hashed_word_shingles", text_col, k), build)
    return build()


#: per-session memo of the (openCostInBytes, maxPartitionBytes,
#: effective-parallelism) triple used by the split math — four py4j
#: roundtrips otherwise paid on EVERY query construction for values that
#: nothing in this engine (or its tests) mutates mid-session
_SPLIT_CONF_CACHE: dict[int, tuple[int, int, int]] = {}


def _split_conf(spark) -> tuple[int, int, int]:
    key = id(spark)
    hit = _SPLIT_CONF_CACHE.get(key)
    if hit is not None:
        return hit
    conf = spark.conf

    def _bytes_conf(ckey: str, default: int) -> int:
        raw = conf.get(ckey, None)
        if raw is None:
            return default
        try:
            return int(raw)
        except ValueError:
            jvm = spark.sparkContext._jvm
            return int(
                jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
            )

    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4 << 20)
    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", 128 << 20)
    min_pn = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
        "spark.sql.leafNodeDefaultParallelism", None
    )
    parallelism = int(min_pn) if min_pn else spark.sparkContext.defaultParallelism
    out = (open_cost, max_pb, parallelism)
    _SPLIT_CONF_CACHE[key] = out
    return out


def _files_partition_estimate(df: DataFrame, n_target: int) -> int | None:
    """Scan-partition count estimated from the source files' sizes with
    Spark's own split math (``FilePartition.maxSplitBytes``: ``maxSplit =
    min(maxPartitionBytes, max(openCostInBytes, paddedTotal /
    minPartitionNum))``), from analysis-time metadata only — ``inputFiles``
    walks the analyzed plan's file indexes and never builds a physical
    plan. Returns ``None`` when the frame has no file-backed source
    (in-memory test frames) or a source whose sizes the driver cannot
    ``os.stat`` (remote schemes); callers then fall back to the exact
    ``df.rdd`` probe. The partition count replays Spark's own packing
    (``FilePartition.getFilePartitions``: size-descending first fit,
    open-cost padding, bin closed when the next raw split would overflow
    ``maxSplit``), so it matches the scan exactly on local files; a huge
    file list short-circuits through the padding-free lower bound
    ``ceil(rawTotal / maxSplit)`` — when even the lower bound clears the
    shuffle-partition target, packing cannot change the decision."""
    try:
        files = df.inputFiles()
    except Exception:  # non-relational plans: fall back to the exact probe
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            path = unquote(urlparse(uri).path)
        elif "://" not in uri:
            path = uri
        else:
            return None  # remote FS: size not visible to a driver os.stat
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    spark = df.sparkSession
    open_cost, max_pb, parallelism = _split_conf(spark)
    padded = sum(sizes) + open_cost * len(sizes)
    max_split = max(1, min(max_pb, max(open_cost, padded // max(parallelism, 1))))
    lower = math.ceil(sum(sizes) / max_split) if sizes else 1
    if lower >= n_target:
        # every bin holds at most max_split RAW bytes, so the true count is
        # >= lower — already past the only threshold _spread compares with
        return lower
    # exact replay of FilePartition.getFilePartitions: split each file by
    # max_split, sort splits size-descending, first-fit with open-cost
    # padding, close the bin when the next raw split would overflow
    splits: list[int] = []
    for s in sizes:
        while s > max_split:
            splits.append(max_split)
            s -= max_split
        if s > 0:
            splits.append(s)
    splits.sort(reverse=True)
    bins = 0
    cur = 0
    for s in splits:
        if cur + s > max_split and cur > 0:
            bins += 1
            cur = 0
        cur += s + open_cost
    if cur > 0:
        bins += 1
    return max(1, bins)


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on the doc id before CPU-heavy shingling — but ONLY
    when the input underparallelizes: a small single-file corpus scans as 1
    partition, which would serialize all expression work. A corpus whose
    scan already yields at least the shuffle-partition target (the normal
    case at scale — file splits) passes through untouched; shuffling 100 TB
    of raw text just to re-balance would dwarf the shingling it feeds.

    The parallelism probe prefers :func:`_files_partition_estimate`:
    ``df.rdd`` forces a full physical-planning pass (plus the file-split
    planning it exists to predict) per QUERY CONSTRUCTION — measured at
    30–100 ms per call locally and O(file-listing) of driver time on a
    large table — where the file-size estimate needs only the analyzed
    plan's input files. The exact RDD probe remains the fallback for
    frames without file-backed sources."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    est = _files_partition_estimate(df, n)
    parts = est if est is not None else df.rdd.getNumPartitions()
    if parts >= n:
        return df
    return df.repartition(n, F.col(id_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    *,
    exact: bool = False,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs: Jaccard(shingles_i, shingles_j) ≥ threshold,
    i < j, via the inverted shingle index (no cross join).

    The DEFAULT routes through :func:`ngram_jaccard_pairs_capped`
    (document-frequency cap ``max_df``): the capped representation is the
    production trade (boilerplate shingles dropped from the similarity
    itself). ``exact=True`` computes the TRUE Jaccard over all shingles via
    PREFIX FILTERING (Chaudhuri et al. SSJoin, ICDE 2006; Bayardo et al.
    AllPairs, WWW 2007; Xiao et al. PPJoin, WWW 2008): under a global
    rarest-first token order, two sets with Jaccard >= t must share a token
    inside both of their (n - ceil(t*n) + 1)-prefixes, so only PREFIX
    tokens enter the candidate join. A boilerplate shingle present in every
    document sorts LAST in every prefix order and never generates a
    candidate — the former O(hot-shingle²) blow-up of the naive inverted
    index is gone while the pair set stays bit-identical (candidates are
    verified against the full shingle sets). The irreducible cost is the
    OUTPUT: a corpus of N near-identical docs has O(N²) true pairs no
    algorithm can avoid emitting; the capped default stays the right tool
    when boilerplate-only overlap should not count as similarity at all."""
    if not exact:
        return ngram_jaccard_pairs_capped(
            df, text_col, id_col, k=k, threshold=threshold, max_df=max_df
        )
    # join on 64-bit shingle hashes, not strings: the shuffled index shrinks
    # ~3× and key compares are long equality. Collision risk over the whole
    # corpus is ~|shingles|²/2⁶⁵ — immaterial next to fp thresholds.
    # Persisted (pooled): the token stream, the prefix index, and the two
    # verification probes all consume it, and shingling+hashing is the
    # CPU-heavy stage — the one intermediate worth materializing.
    sh = persist_bounded(
        "dedup.ngram_exact.hashed",
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), hashed_word_shingles(text_col, k).alias("hsh"))
        .filter(F.size("hsh") > 0),
    )
    toks = sh.select("doc", F.size("hsh").alias("n"), F.explode("hsh").alias("s"))
    # global document frequency = the token order (rarest first, ties by
    # hash value → total, deterministic, engine-portable). The df join is
    # co-partitioned with the groupBy that produced it — no extra exchange.
    dfreq = toks.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # per-doc prefix: first n - ceil(t*n) + 1 tokens in (df, s) order. The
    # 1e-9 nudge guards the float ceil: deflating alpha by one only LENGTHENS
    # the prefix (extra candidates, same exact output); inflating it would
    # shorten the prefix and silently drop true pairs.
    alpha = F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9))
    pre = persist_bounded(
        "dedup.ngram_exact.prefix",
        toks.join(dfreq, "s")
        .groupBy("doc", "n")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("o"))
        .select(
            "doc",
            "n",
            F.slice("o", 1, (F.col("n") - alpha + 1).cast("int")).alias("p"),
        )
        .select("doc", "n", F.explode("p").alias("ps"))
        .select("doc", "n", F.col("ps.s").alias("s")),
    )
    # candidates: docs sharing a PREFIX token, pruned by the length filter
    # (Jaccard >= t forces t*max(ni,nj) <= min(ni,nj))
    a = pre.select("s", F.col("doc").alias("i"), F.col("n").alias("ni"))
    b = pre.select("s", F.col("doc").alias("j"), F.col("n").alias("nj"))
    t = F.lit(float(threshold))
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("i") < F.col("j"))
            & (F.col("ni") * t <= F.col("nj"))
            & (F.col("nj") * t <= F.col("ni"))
        )
        .select("i", "j")
        .distinct()
    )
    # verify each candidate against the FULL shingle sets — exactness lives
    # here, the prefix stage only prunes. array_intersect is JVM-side,
    # O(|A| + |B|) per surviving candidate.
    ver = (
        cand.join(sh.select(F.col("doc").alias("i"), F.col("hsh").alias("hi")), "i")
        .join(sh.select(F.col("doc").alias("j"), F.col("hsh").alias("hj")), "j")
        .select(
            "i",
            "j",
            F.size(F.array_intersect("hi", "hj")).alias("inter"),
            F.size("hi").alias("ni"),
            F.size("hj").alias("nj"),
        )
    )
    jac = F.col("inter") / (F.col("ni") + F.col("nj") - F.col("inter"))
    return ver.filter(jac >= threshold).select("i", "j")


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with a document-frequency cap: shingles
    occurring in more than ``max_df`` docs are dropped from each document's
    representation BEFORE the Jaccard — both the intersection counts and the
    set sizes are computed over surviving shingles, so the output is the
    exact Jaccard of the capped representation (not a biased estimate of the
    uncapped one). Documents whose shingles are all ubiquitous drop out.

    This is the adversarial-corpus-safe form: a shingle present in every
    document (boilerplate header, license banner) costs O(N) streamed rows
    instead of O(N²) pairs. Use the uncapped form only when exact
    co-occurrence over ALL shingles is the requirement."""
    sh = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), hashed_word_shingles(text_col, k).alias("hsh"))
        .filter(F.size("hsh") > 0)
    )
    # Anti-join document-frequency cap (r10): the generic window form
    # (cap_hot_keys) puts Exchange+Sort+Window over the FULL index inside
    # the cached lineage. Here the hot keys are instead counted with a
    # map-side-combined aggregate (the exchange moves per-partition
    # (key, partial-count) rows, not the index) and removed with a
    # left-anti join whose build side is only the above-cap keys (AQE
    # broadcasts a normal corpus's hot set; an adversarial one degrades to
    # a shuffled join — the same full-index exchange the window form
    # always pays). The pre-cap index is pooled so the hot count does not
    # re-run the shingle kernel, and the per-doc sizes are pooled because
    # both Jaccard join sides consume them (un-persisted, each side
    # replans the full index scan + exchange + agg — the pushed null
    # filters defeat exchange reuse). Semantics identical to the window
    # cap (pinned); measured ~9% on this query and ~10% on
    # x_cluster_keep_best across interleaved same-window reps.
    inv0 = persist_bounded(
        "dedup.ngram_capped.index0", sh.select("doc", F.explode("hsh").alias("s"))
    )
    hot = (
        inv0.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("s")
    )
    inv = persist_bounded("dedup.ngram_capped.index", inv0.join(hot, "s", "left_anti"))
    sizes = persist_bounded(
        "dedup.ngram_capped.sizes",
        inv.groupBy("doc").agg(F.count(F.lit(1)).alias("n")),
    )

    # the index is already capped → per-key sets are bounded by max_df, so
    # the single-shuffle grouped form is safe and cheapest
    inter = _copair_counts(inv, "s", bounded=True)
    si = sizes.select(F.col("doc").alias("i"), F.col("n").alias("ni"))
    sj = sizes.select(F.col("doc").alias("j"), F.col("n").alias("nj"))
    jac = F.col("inter") / (F.col("ni") + F.col("nj") - F.col("inter"))
    return (
        inter.join(si, "i")
        .join(sj, "j")
        .filter(jac >= threshold)
        .select("i", "j")
    )


def cap_hot_keys(inv: DataFrame, key: str, max_df: int) -> DataFrame:
    """Drop inverted-index entries whose key occurs in more than ``max_df``
    docs — the standard document-frequency cap that bounds the O(d²) pair
    blow-up of ultra-frequent keys (boilerplate shingles, stop-phrase
    n-grams, mega LSH buckets).

    Implementation: a window COUNT partitioned by key, then filter. One
    shuffle; the windowed partition spills to disk (unlike a collect_set of
    a hot key's doc list, which is a single in-memory array), and the
    downstream groupBy on the same key reuses the hash partitioning — no
    second exchange. A key with d > max_df docs costs O(d) streamed rows
    here instead of O(d²) pairs downstream.

    A count-aggregate + anti-join alternative was measured in r10: it WINS
    for the capped-jaccard inverted index (where it is inlined — see
    :func:`ngram_jaccard_pairs_capped` — because it keeps the full-index
    sort+window out of the cached lineage) but LOSES for the MinHash
    bucket cap that routes here (6/8 interleaved reps slower: the bucket
    stream is a cheap cache explode, and the window's partitioning feeds
    the downstream collect_set directly while the anti-join adds a count
    pass + a join). This window form stays the generic implementation."""
    w = W.partitionBy(key)
    return (
        inv.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def _copair_counts(
    inv: DataFrame, key: str, max_df: int | None = None, bounded: bool = False
) -> DataFrame:
    """(i, j, inter) = number of inverted-index keys shared by each doc pair,
    i < j.

    A key appearing in d docs emits O(d²) pairs — the irreducible cost of
    exact co-occurrence. ``max_df`` bounds that: keys above the cap are
    dropped first (:func:`cap_hot_keys`), changing the semantics from
    "all shared keys" to "all shared non-ubiquitous keys" — the trade every
    production dedup pipeline makes. None = exact, uncapped.

    Two physical forms, chosen by whether per-key doc counts are bounded:

    - **bounded** (``max_df`` given, or ``bounded=True`` because the caller
      pre-capped the index): group docs per key into a ``collect_set`` —
      ≤ ``max_df`` elements by construction — drop singleton keys (they
      cannot form a pair; typically the vast majority), emit in-group pairs
      by double explode. Shuffles the big index ONCE, which matters when the
      index is the dominant volume.
    - **unbounded** (exact, uncapped): the classic index self-join. Two
      shuffles of the index instead of one, but NO per-key in-memory array —
      a hot key streams through the join and spills like any other skewed
      key (AQE skew handling applies), instead of materializing a d-element
      driver-of-doom array inside one aggregation buffer. At 100 TB the
      uncapped form is only safe with this shape; the O(d²) emitted pairs
      remain inherent to its semantics.
    """
    if max_df is not None:
        inv = cap_hot_keys(inv, key, max_df)
        bounded = True
    if bounded:
        grp = (
            inv.groupBy(key)
            .agg(F.collect_set("doc").alias("docs"))
            .filter(F.size("docs") >= 2)
        )
        return (
            grp.select(F.explode("docs").alias("i"), "docs")
            .select("i", F.explode("docs").alias("j"))
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    a = inv.select(F.col(key).alias("__k"), F.col("doc").alias("i"))
    b = inv.select(F.col(key).alias("__k"), F.col("doc").alias("j"))
    return (
        a.join(b, "__k")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(hashed_shingles_col, num_hashes: int = 32) -> Column:
    """array<bigint> MinHash signature over PRE-HASHED (long) shingles:
    element h = min over shingles of xxhash64(h, shingle_hash). Seeding via
    an extra hashed column instead of string concat keeps the 32-function
    family pure integer work.

    When given a column NAME the expression is assembled as one SQL string
    (a Column-API loop of ``num_hashes`` transform/array_min nodes is
    ~4·num_hashes driver py4j round trips per call — a measurable fixed
    cost on every invocation; string assembly is free and ``F.expr``
    parses it in a single call). A Column input takes the API path."""
    if isinstance(hashed_shingles_col, str) and __import__("re").fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", hashed_shingles_col
    ):
        # plain identifiers only — a dotted/spaced/reserved name would
        # mis-parse in the SQL string; such names take the Column path
        parts = ", ".join(
            f"array_min(transform({hashed_shingles_col}, s -> xxhash64({h}, s)))"
            for h in range(num_hashes)
        )
        return F.expr(f"array({parts})")
    c = (
        F.col(hashed_shingles_col)
        if isinstance(hashed_shingles_col, str)
        else hashed_shingles_col
    )
    return F.array(
        *[
            F.array_min(F.transform(c, lambda s: F.xxhash64(F.lit(h), s)))
            for h in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH with exact-Jaccard verification.

    ``num_hashes`` must divide into ``bands`` equal rows-per-band; a pair is
    a candidate iff some band's signature slice matches exactly (bucket
    equi-join on (band, band_hash) — shuffle is per-bucket, never all-pairs).
    Candidates are then verified against the true shingle Jaccard, so the
    output contains no false positives; recall follows the LSH S-curve.

    ``max_bucket`` caps candidate generation per LSH bucket
    (:func:`cap_hot_keys`): a degenerate corpus where one band collides for
    every document would otherwise emit O(N²) candidates into verification.
    Capped buckets lose their pairs (recall, not precision) — at 100 TB run
    with a cap (e.g. 5000) and treat mega-buckets as their own exact-dup
    cluster upstream. None = uncapped."""
    # persisted: consumed three times (banding + both verification sides);
    # recomputing the shingle+hash stage 3× was the dominant cost. Pooled
    # per call site so repeated calls hold at most one cached frame.
    rows = persist_bounded(
        "dedup.minhash.rows",
        minhash_index(df, text_col, id_col, k, num_hashes, bands),
    )
    buckets = rows.select("doc", F.explode("buckets").alias("bucket"))
    candidates = _copair_counts(buckets, "bucket", max_df=max_bucket).select("i", "j")

    si = rows.select(F.col("doc").alias("i"), F.col("hsh").alias("sh_i"))
    sj = rows.select(F.col("doc").alias("j"), F.col("hsh").alias("sh_j"))
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size("sh_i") + F.size("sh_j") - inter
    return (
        candidates.join(si, "i")
        .join(sj, "j")
        .filter((inter / union) >= threshold)
        .select("i", "j")
    )


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The storable per-document MinHash/LSH index row: ``(doc, hsh,
    buckets)`` — the hashed shingle set plus the ``bands`` LSH bucket ids.
    Bucket b folds (b, band-b signature hash) into one long exactly as
    :func:`minhash_lsh_pairs` derives its bucket key, so pairs found
    incrementally match pairs found in batch mode bit-for-bit.

    Persist this frame (e.g. as a store table) and each new crawl batch
    dedupes against the whole corpus via :func:`incremental_minhash_pairs`
    without ever touching the corpus text again. Per document the index
    costs one long per distinct shingle (``hsh``, needed for exact
    verification) plus ``bands`` bucket longs — far smaller than the text,
    and the full-corpus re-shingle never runs again.

    The signature → per-band bucket pipeline is assembled as single SQL
    expressions (one parse, not ~4·bands py4j round trips per call)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # one pass: signature → array of per-band bucket ids.
    # (a union of per-band projections would recompute the whole signature
    # per band — 8× the hashing work; measured 2.4× slower end-to-end.)
    # A cross-band bucket collision only ADDS a candidate, and candidates
    # pass exact verification, so correctness is unaffected.
    # The bucket id hashes the band's signature longs DIRECTLY (multi-arg
    # xxhash64 seeded with the band index) instead of stringifying the
    # slice through concat_ws and hashing the text: bucket equality is
    # slice equality under both forms (comma-joined longs are injective,
    # and so is the fixed-arity long tuple), so the candidate set — and
    # after exact-Jaccard verification the pair output — is unchanged,
    # while the per-doc banding cost drops the per-band string
    # materialization entirely.
    bucket_exprs = ", ".join(
        f"xxhash64({band}, "
        + ", ".join(
            f"element_at(sig, {band * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + ")"
        for band in range(bands)
    )
    # hsh = distinct-by-HASH of the raw shingle stream, not a hash of the
    # distinct-by-STRING set: transform∘array_distinct commutes with the
    # elementwise hash (first-occurrence positions coincide), so the array
    # is bit-identical modulo the ~2⁻⁶⁴ collision class the signature
    # family already accepts — while the distinct pass compares longs
    # instead of shingle strings (measured 0 mismatches corpus-wide,
    # pinned by test_minhash_hashed_distinct_matches_string_distinct).
    raw = _raw_word_shingles(text_col, k)
    return (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(
                F.transform(raw, lambda s: F.xxhash64(s))
            ).alias("hsh"),
        )
        .filter(F.size("hsh") > 0)
        .select("doc", "hsh", minhash_signature("hsh", num_hashes).alias("sig"))
        .select("doc", "hsh", F.expr(f"array({bucket_exprs})").alias("buckets"))
    )


def incremental_minhash_pairs(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch, against a stored corpus index
    (:func:`minhash_index` rows, same k/num_hashes/bands): (i, j) with
    i < j and at least one side in ``batch``. Same hash family, banding,
    cap, and exact-Jaccard verification as :func:`minhash_lsh_pairs`, so
    the result equals batch-mode pairs over (corpus ∪ batch) restricted to
    pairs touching the batch (property-tested). Corpus-corpus pairs are
    never re-derived — they were found when their own batches arrived.
    Batch doc ids must be disjoint from the index's (append corpus).

    100 TB shape: the corpus side is pruned FIRST to index rows sharing an
    LSH bucket with the batch (left-semi against the batch's bucket set —
    at normal batch sizes AQE broadcasts it), so candidate generation and
    verification run over O(batch + bucket collisions) rows, never the
    corpus. ``max_bucket`` counts corpus + batch members per bucket —
    identical semantics to batch mode, because a shared bucket's corpus
    membership survives the semi-join in full.

    Measured negative result (sf1→sf10 decade, do not retry): with a batch
    of 25% of a 500k-doc corpus every join here switches broadcast→SMJ
    (12→27 exchanges, 2→32 sorts) yet wall time stays sub-linear (×4.7 for
    ×10 data). Forcing ``shuffle_hash`` on the semi-join build sides — the
    fix that won for batch substring dedup — LOST the A/B (median 72 s SMJ
    vs 125 s hinted, 5 reps): the build sides are ~10⁶-entry hash maps
    while the SMJ sorts are cheap single-long columns, and the hint would
    also stop AQE broadcasting for normal small batches. The adaptive plan
    is the right one."""
    new_rows = persist_bounded(
        "dedup.minhash_inc.batch",
        minhash_index(batch, text_col, id_col, k, num_hashes, bands),
    )
    newb = new_rows.select("doc", F.explode("buckets").alias("bucket"))
    # corpus rows can only pair with the batch inside a shared bucket
    oldb = index.select("doc", F.explode("buckets").alias("bucket")).join(
        newb.select("bucket").distinct(), "bucket", "left_semi"
    )
    candidates = _copair_counts(
        newb.unionByName(oldb), "bucket", max_df=max_bucket
    ).select("i", "j")
    # drop corpus-corpus pairs (possible inside a shared bucket): keep
    # pairs whose i or j is a batch doc — the batch id set is small, both
    # semi-joins broadcast under AQE
    nid = new_rows.select("doc")
    touching = (
        candidates.join(nid.withColumnRenamed("doc", "i"), "i", "left_semi")
        .unionByName(candidates.join(nid.withColumnRenamed("doc", "j"), "j", "left_semi"))
        .distinct()
    )
    # verification reads hsh (the index's dominant column) only for corpus
    # docs that actually share a bucket with the batch — never the whole
    # index; without this semi-join every batch would stream the full
    # corpus hsh column through both verification joins
    old_hsh = index.select("doc", "hsh").join(
        oldb.select("doc").distinct(), "doc", "left_semi"
    )
    all_rows = new_rows.select("doc", "hsh").unionByName(old_hsh)
    si = all_rows.select(F.col("doc").alias("i"), F.col("hsh").alias("sh_i"))
    sj = all_rows.select(F.col("doc").alias("j"), F.col("hsh").alias("sh_j"))
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size("sh_i") + F.size("sh_j") - inter
    return (
        touching.join(si, "i")
        .join(sj, "j")
        .filter((inter / union) >= threshold)
        .select("i", "j")
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprints)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    hash every character ``k``-gram, then keep the minimum hash of each
    sliding window of ``window`` consecutive gram hashes; the distinct kept
    hashes are the document's fingerprint set.

    Guarantee: any substring shared by two documents of length ≥
    ``k + window - 1`` contributes at least one shared fingerprint — the
    local-sampling property that makes this the standard plagiarism /
    overlap detector. Expected density ≈ 2/(window+1) of all grams.

    Pure Catalyst expressions, one projection, no shuffle — but the shape
    matters enormously (this operator is where both scale traps were
    measured, via the sf0.1 parity sweep hanging on one task for tens of
    minutes over a 300-char corpus):

    - ``substr(text, i, k)`` per gram position is O(i): UTF8 character
      addressing scans from the string start, so substr-in-a-position-
      lambda is O(len²) PER DOCUMENT regardless of how the expression is
      bound (measured: one 400 KB document = 400 s). The text is instead
      split into a char array ONCE and each gram is an O(k) slice-join of
      the BOUND array — same characters, same xxhash64 values;
    - the char and gram-hash arrays are :func:`_bind`-bound, never spliced
      into the window lambdas: spliced, an O(len) sub-expression re-
      evaluates at every position (a second, independent O(len²)), and
      projection staging alone does not survive filter pushdown
      re-inlining the alias below an explode. (``slice`` on a bound array
      copies O(k) refs — the slice was never the trap, the splice was.)

    Net cost O(len·(k + window)) per document (400 KB doc: ~3 s, was
    400 s). The input is ``_spread``: fingerprinting is the CPU-heavy
    stage, and a small single-file corpus otherwise serializes it on the
    scan's one partition. Documents shorter than ``k`` chars get an empty
    set; shorter than ``k + window - 1`` keep the single global min.
    Fingerprint values are bit-identical to the previous substr form for
    BMP text (supplementary-plane codepoints segment as ``split('')``
    units rather than substr's codepoint count — irrelevant to the hash
    family's guarantees)."""
    c = F.col(text_col)

    def body(ch):
        grams = F.when(
            F.length(c) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws("", F.slice(ch, i, k))),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

        def mins_of(g):
            mins = F.transform(
                F.sequence(F.lit(1), F.size(g) - (window - 1)),
                lambda j: F.array_min(F.slice(g, j, window)),
            )
            return (
                F.when(F.length(c) >= k + window - 1, F.array_distinct(mins))
                .when(F.length(c) >= k, F.array(F.array_min(g)))
                .otherwise(F.array().cast("array<bigint>"))
            )

        return _bind(grams, mins_of)

    return _spread(df, id_col).select(
        F.col(id_col).alias("doc"), _bind(F.split(c, ""), body).alias("fingerprints")
    )


def winnow_overlap_pairs(
    fps: DataFrame, min_shared: int = 2, max_df: int | None = None
) -> DataFrame:
    """Pairs of documents sharing ≥ ``min_shared`` winnowing fingerprints,
    via the inverted fingerprint index (grouped co-pair counting, never a
    cross join) — the same scale shape as the shingle inverted index.
    ``max_df`` drops fingerprints common to more than that many docs
    (:func:`cap_hot_keys`) — shared boilerplate otherwise pairs everything
    containing it."""
    inv = fps.select("doc", F.explode("fingerprints").alias("fp"))
    return (
        _copair_counts(inv, "fp", max_df=max_df)
        .filter(F.col("inter") >= min_shared)
        .select("i", "j", F.col("inter").alias("shared"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per document: bit b of the fingerprint is 1
    iff Σ over tokens of ±1 (sign of bit b of xxhash64(token)) is positive.
    One projection, no shuffle; the per-bit sums are array aggregates.

    The token hashes are materialized in a first projection and the 64-term
    fingerprint is assembled as ONE SQL string: the previous Column-API loop
    (64 × aggregate-with-lambda) cost >1000 driver py4j round trips —
    measured 1.4-2.8 s of per-call construction against 0.2 s of warm
    execution — and inlined the tokenize/hash expression into every bit's
    aggregate. Fingerprint values are bit-identical to the old form."""
    df = _spread(df, id_col)
    hashed = df.select(
        F.col(id_col).alias("doc"),
        F.transform(
            F.array_distinct(F.split(F.col(text_col), " ")), lambda w: F.xxhash64(w)
        ).alias("__sh_h"),
    )

    def lit64(b: int) -> str:  # bit b as a signed-long SQL literal
        return str(1 << b) if b < 63 else "-9223372036854775808"

    fp = " + ".join(
        f"(CASE WHEN aggregate(__sh_h, 0, (acc, h) -> acc + "
        f"(CASE WHEN (h & {lit64(b)}) != 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({lit64(b)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return hashed.select("doc", F.expr(fp).alias("fingerprint"))


def _simhash_bands(fps: DataFrame, max_hamming: int) -> DataFrame:
    """(doc, fingerprint, band, bh) rows: the fingerprint split into
    ``max_hamming + 1`` disjoint bands of ``64 // (max_hamming + 1)`` bits
    (the last band absorbs the remainder, so all 64 bits are covered — the
    pigeonhole needs the bands to partition the fingerprint)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    if width == 0:
        raise ValueError(f"max_hamming={max_hamming} needs >64 1-bit bands")
    bands = []
    for i in range(n_bands):
        lo = i * width
        w = width if i < n_bands - 1 else 64 - lo
        if w >= 64:  # single band (max_hamming=0): the whole fingerprint
            bh = F.col("fingerprint")
        else:
            bh = F.shiftrightunsigned("fingerprint", lo).bitwiseAND(
                F.lit((1 << w) - 1)
            )
        bands.append(
            fps.select(
                "doc",
                "fingerprint",
                F.lit(i).alias("band"),
                bh.cast("long").alias("bh"),
            )
        )
    buckets = bands[0]
    for br in bands[1:]:
        buckets = buckets.unionByName(br)
    return buckets


def simhash_near_pairs(
    fps: DataFrame, max_hamming: int = 3, max_bucket: int | None = 5000
) -> DataFrame:
    """Pairs of fingerprints within ``max_hamming`` bits, via the pigeonhole
    band join: splitting the 64 bits into ``max_hamming + 1`` DISJOINT bands
    guarantees two fingerprints with ≤ ``max_hamming`` differing bits agree
    exactly on at least one whole band, so a per-band equi-join finds every
    candidate without a cross join; exact ``bit_count`` verification on the
    candidates keeps the output precise.

    Band width is ``64 // (max_hamming + 1)`` (the last band absorbs the
    remainder) — the WIDEST bands the pigeonhole allows, hence the fewest
    spurious band collisions: the default ``max_hamming=3`` gives 4 bands of
    16 bits = 65,536 buckets per band, so a uniform corpus yields
    ~N²/65,536 candidates per band instead of the ~N²/256 that fixed 8-bit
    byte bands produce — 256× fewer with the identical recall guarantee.

    ``max_bucket`` drops (band, value) buckets holding more than that many
    fingerprints (:func:`cap_hot_keys`) before the self-join, bounding the
    O(d²) blow-up of degenerate buckets (boilerplate-dominated corpora where
    thousands of docs share a band value). Pairs whose EVERY agreeing band
    is capped are missed — the same bounded-recall trade as every other
    capped candidate generator here; ``None`` = exact, uncapped.
    """
    buckets = _simhash_bands(fps, max_hamming)
    if max_bucket is not None:
        # composite (band, bh) key for the doc-frequency cap; bh < 2^40 for
        # every multi-band split (width ≤ 32 + remainder), and the single-band
        # case has band=0 so the key degenerates to bh itself — no overflow
        buckets = buckets.withColumn(
            "__bkey", F.col("band").cast("long") * F.lit(1 << 40) + F.col("bh")
        )
        buckets = cap_hot_keys(buckets, "__bkey", max_bucket).drop("__bkey")
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter(hamming <= max_hamming)
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected components (duplicate-cluster extraction)
# ---------------------------------------------------------------------------


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): every node's strictly-larger neighbors re-attach
    to the minimum of its closed neighborhood."""
    b = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        b.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        b.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges high→low, re-attach each node's ≤ neighbors
    (and itself) to the minimum neighbor."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def connected_components(
    pairs: DataFrame, max_iter: int = 25, driver_max_edges: int = 1 << 17
) -> DataFrame:
    """(doc, cluster) for every doc appearing in ``pairs`` (i, j): cluster =
    the minimum doc id of its connected component — the canonical survivor
    of a duplicate group.

    Alternating large-star/small-star converges in O(log² n) rounds
    regardless of component diameter (a 10⁶-long chain still finishes in
    ~20 rounds), unlike naive min-label propagation whose round count is the
    diameter. Each round is one groupBy + one join shuffle on the edge set;
    ``localCheckpoint`` truncates the iterative lineage. Convergence is
    detected by an edge-set checksum (count + hash sum), one tiny agg per
    round. This is the scalable duplicate-clustering standard at 100 TB —
    never an UNBOUNDED driver-side union-find.

    **Size-gated finisher**: the deduplicated edge set is already
    materialized (the checkpoint) before the loop, so its count is free —
    and when it is tiny (≤ ``driver_max_edges``, default 128k ≈ 2 MB of
    longs) the component structure is computed driver-side by union-find
    instead of iterating 3–6 star rounds of pure stage-scheduling overhead
    over a one-partition frame (measured ~1 s/round on 890 edges — the
    rounds cost scheduling, not compute, below cluster scale). This is the
    engine's standard bounded control-flow read (dims, centroids, DSIR
    buckets): the threshold bounds driver memory a priori, results are
    bit-identical to the distributed path (property-tested), and any edge
    set above it — the only kind a 100 TB corpus produces — takes the
    distributed rounds unchanged. Pass ``driver_max_edges=0`` to force the
    distributed path."""
    e = (
        pairs.select(F.col("i").cast("long").alias("u"), F.col("j").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if e.count() <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in e.collect():
            u, v = row["u"], row["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # full compression → every root is its component's minimum id
        # (unions always attach max-root under min-root)
        labels = [(n, find(n)) for n in parent]
        # pandas + Arrow path: createDataFrame over a list of tuples takes
        # the per-row pickle path (~0.3 s even for 2k labels); the pandas
        # frame crosses as one Arrow batch (~4x faster, measured). dtype
        # pinned so an EMPTY label set still yields long columns.
        pdf = pd.DataFrame(labels, columns=["doc", "cluster"], dtype="int64")
        return e.sparkSession.createDataFrame(pdf, "doc long, cluster long")
    prev = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        chk = e.agg(
            F.count(F.lit(1)).alias("n"),
            # widen to decimal(38,0): a sum of full-range int64 hashes
            # overflows LONG under ANSI mode after a handful of edges
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        cur = (chk["n"], chk["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # converged star graph: every non-root points at its component minimum
    roots = e.select(F.col("v").alias("doc")).distinct().withColumn("cluster", F.col("doc"))
    return (
        e.select(F.col("u").alias("doc"), F.col("v").alias("cluster"))
        .unionByName(roots)
        .groupBy("doc")
        .agg(F.min("cluster").alias("cluster"))
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Assign EVERY document a duplicate-cluster id: docs in no pair are
    their own singleton cluster. The end of the dedup pipeline — keep one
    doc per cluster (``cluster = doc id`` rows are the canonical
    survivors).

    ``passthrough`` names ``df`` columns to carry through the label join
    (the :func:`~eth_indexer_spark.operators.quality.gopher_rules`
    passthrough convention): a downstream consumer that needs per-doc
    attributes next to the cluster id (x_cluster_keep_best's quality
    score) otherwise pays a second corpus scan plus a fact-fact join on
    the id to re-attach them — the label side is the small/broadcast
    side here, so carrying the columns is free. A passthrough name equal
    to ``doc``, ``cluster`` or ``id_col`` would shadow an output column and
    raises ``ValueError``."""
    clash = sorted(set(passthrough) & {"doc", "cluster", id_col})
    if clash:
        raise ValueError(
            f"dedup_clusters passthrough {clash} collides with the output "
            f"columns doc/cluster or the id column {id_col!r}"
        )
    cc = connected_components(pairs)
    return (
        df.select(F.col(id_col).cast("long").alias("doc"), *[F.col(c) for c in passthrough])
        .join(cc, "doc", "left")
        .select(
            "doc",
            F.coalesce("cluster", F.col("doc")).alias("cluster"),
            *passthrough,
        )
    )


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame | None,
    score_col: str,
    id_col: str = "doc",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Canonical-document selection — the step between clustering and the
    final corpus: for each duplicate cluster keep the HIGHEST-scoring
    member (ties broken to the smallest id), instead of the arbitrary
    min-id convention. This is how production dedup pipelines pick which
    copy of a near-dup family survives: score by quality and keep the best
    page, not the first-crawled one.

    ``clusters`` is ``(id_col, cluster_col)`` (the
    :func:`dedup_clusters` output); ``scores`` is ``(id_col, score_col)``
    — e.g. ``functions.text.quality_score``. Returns
    ``(cluster, keep_id, best_score, n_members)``.

    ``scores`` may cover only part of the corpus (quality is often
    computed on an already-filtered subset): cluster members without a
    score row still COUNT in ``n_members`` and rank below every scored
    member (ties to smallest id), so a fully-unscored cluster keeps its
    min-id member instead of vanishing — dropping every copy of a dup
    family because its scores were filtered away would be silent data
    loss. ``best_score`` is NULL when the winner was unscored.

    100 TB shape: deliberately NOT a window — ``row_number() OVER
    (PARTITION BY cluster)`` puts an entire cluster in one task, and the
    boilerplate mega-cluster every web corpus contains would be a straggler.
    Instead a single ``max(struct(score, -id, id))`` aggregation: map-side
    partial combine shrinks each cluster to one candidate per task BEFORE
    the one shuffle, so even a cluster spanning the whole corpus costs
    O(#partitions) reduce-side work.

    ``scores`` carries no uniqueness contract: duplicate score rows per id
    (a re-scored doc, an unsynchronized upstream union) are collapsed to
    ``max(score)`` per id BEFORE the join — otherwise the left join would
    fan out, silently inflating ``n_members`` and letting a doc win on its
    best duplicate row while being counted twice. One extra skinny
    aggregation on an id-keyed frame; map-side combine makes it ~free when
    ids are already unique.

    ``scores=None`` reads ``score_col`` straight off ``clusters`` —
    for callers that carried the score through the cluster assignment
    (``dedup_clusters(..., passthrough=...)``, which guarantees one row
    per id) this skips the dedupe aggregation AND the id-keyed re-join:
    one corpus pass instead of two plus a fact-fact shuffle. Semantics
    identical to passing those rows as ``scores`` (pinned)."""
    if scores is None:
        joined = clusters
    else:
        scores_1 = (
            scores.select(F.col(id_col), F.col(score_col))
            .groupBy(id_col)
            .agg(F.max(score_col).alias(score_col))
        )
        joined = clusters.join(scores_1, id_col, "left")
    best = F.max(
        F.struct(
            # unscored members sort below every real score (scores are
            # finite by construction; -inf never ties a real one)
            F.coalesce(F.col(score_col), F.lit(float("-inf"))).alias("s"),
            (-F.col(id_col)).alias("neg"),
            F.col(id_col).alias("kid"),
            F.col(score_col).alias("orig"),
        )
    )
    return (
        joined.groupBy(cluster_col)
        .agg(best.alias("__b"), F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col(cluster_col),
            F.col("__b.kid").alias("keep_id"),
            F.col("__b.orig").alias("best_score"),
            F.col("n_members"),
        )
    )
