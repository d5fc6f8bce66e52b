"""Semantic tests for the training-data extension operators: approximate
methods (MinHash-LSH, SimHash, RHP-LSH, IVF) validated against their exact
counterparts on the sf0.001 corpus; multimodal plumbing on synthetic binary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.catalog import load_table
from eth_indexer_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_minhash_lsh_no_false_positives_and_high_recall(docs):
    truth = {
        (r["i"], r["j"])
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5, exact=True).collect()
    }
    lsh = {
        (r["i"], r["j"])
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", k=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert lsh <= truth, "verification must eliminate false positives"
    if truth:
        recall = len(lsh) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall:.2f} too low (truth={len(truth)})"


def test_simhash_identical_docs_collide(spark, docs):
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    fps = dedup.simhash(doubled, "text", "doc_id")
    pairs = {
        (r["i"], r["j"]) for r in dedup.simhash_near_pairs(fps, max_hamming=0).collect()
    }
    n_docs = docs.count()
    exact = {(r["doc_id"], r["doc_id"] + 100000) for r in docs.select("doc_id").collect()}
    assert exact <= pairs, "identical texts must have identical fingerprints"
    # the corpus vocabulary is ~30 words, so many distinct docs share a
    # fingerprint legitimately — just require it doesn't collapse entirely
    total_possible = (2 * n_docs) * (2 * n_docs - 1) / 2
    assert len(pairs) < total_possible / 10, "fingerprints collapsed the corpus"


def _fps_df(spark, pairs):
    """(doc, fingerprint) rows from python ints (unsigned 64 → signed)."""
    rows = [
        (d, v - (1 << 64) if v >= (1 << 63) else v) for d, v in pairs
    ]
    return spark.createDataFrame(rows, "doc long, fingerprint long")


def test_simhash_band_join_matches_brute_force(spark):
    """Recall guarantee of the pigeonhole banding: the uncapped banded join
    finds EXACTLY the brute-force Hamming-distance-≤-3 pairs on a corpus of
    random fingerprints with planted 0-5 bit-flip near-duplicates."""
    import itertools
    import random

    rnd = random.Random(11)
    fps_py = {i: rnd.getrandbits(64) for i in range(120)}
    nid = 1000
    for i in range(0, 120, 3):  # planted near-dups at varying distances
        v = fps_py[i]
        for b in rnd.sample(range(64), rnd.randint(0, 5)):
            v ^= 1 << b
        fps_py[nid] = v
        nid += 1
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps_py), 2)
        if bin(fps_py[a] ^ fps_py[b]).count("1") <= 3
    }
    got = {
        (r["i"], r["j"])
        for r in dedup.simhash_near_pairs(
            _fps_df(spark, fps_py.items()), max_hamming=3, max_bucket=None
        ).collect()
    }
    assert truth, "degenerate corpus: no planted pairs survived"
    assert got == truth


def test_simhash_banding_prunes_uniform_corpus(spark):
    """Scale property (VERDICT r4 #2): 64//(max_hamming+1)-bit pigeonhole
    bands keep candidate volume ~N²/2^16 per band on a uniform corpus —
    ~256× below the ~N²/256 of fixed 8-bit byte bands. 4000 random
    fingerprints → expected ≈ 4·C(4000,2)/65536 ≈ 490 candidate pairs;
    byte bands would yield ≈ 8·C(4000,2)/256 ≈ 250,000."""
    import random

    rnd = random.Random(7)
    fps = _fps_df(spark, ((i, rnd.getrandbits(64)) for i in range(4000)))
    cand = (
        dedup._simhash_bands(fps, max_hamming=3)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.expr("d * (d - 1) / 2")).alias("pairs"))
        .collect()[0]["pairs"]
    )
    assert cand < 5000, f"banding does not prune: {cand} candidate pairs"


def test_simhash_cap_bounds_degenerate_buckets(spark):
    """max_bucket drops degenerate hot buckets (a boilerplate corpus where
    hundreds of docs share a band value) instead of emitting O(d²) pairs;
    near-pairs outside the hot buckets still surface."""
    v = 0x1111222233334444  # every 16-bit band non-zero
    pairs = [(i, 0) for i in range(500)] + [(1000, v), (1001, v ^ 1)]
    got = {
        (r["i"], r["j"])
        for r in dedup.simhash_near_pairs(
            _fps_df(spark, pairs), max_hamming=3, max_bucket=100
        ).collect()
    }
    assert got == {(1000, 1001)}


def test_exact_dedup_groups(spark, docs):
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    out = dedup.exact_dedup(doubled, "text", "doc_id").collect()
    assert all(r["n_copies"] == 2 for r in out)
    assert all(r["keep_id"] < 100000 for r in out)


def test_rhp_ann_recall(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]
    exact = [
        r["vec_id"]
        for r in similarity.cosine_topk(emb, q, k=10, exclude_id=0).collect()
    ]
    approx = {
        r["vec_id"]
        for r in similarity.rhp_ann_topk(emb, q, dim=len(q), k=10, n_planes=6).collect()
    }
    # embeddings are near-random (max pairwise cosine ≈ 0.5), the regime
    # where hyperplane LSH is weakest — require better-than-chance overlap
    # (chance for 10 of 500 ≈ 0.02), not high recall
    overlap = len(set(exact) & approx) / 10
    assert overlap >= 0.1, f"RHP-LSH overlap with exact top-10 at chance level: {overlap}"


def test_ivf_ann_runs_and_ranks(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]
    got = similarity.ivf_topk(emb, q, k=10, nlist=8, nprobe=4).collect()
    assert len(got) == 10
    sims = [r["sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_exact(emb):
    """Full probe (nprobe = nlist) scans every list → must EQUAL the exact
    top-k; partial probe must beat chance overlap (random data is LSH/IVF's
    worst regime, so the bound is deliberately modest)."""
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]
    exact = [
        r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10, exclude_id=0).collect()
    ]
    full = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, k=10, nlist=8, nprobe=8, exclude_id=0).collect()
    ]
    assert full == exact
    part = {
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, k=10, nlist=8, nprobe=4, exclude_id=0).collect()
    }
    assert len(set(exact) & part) / 10 >= 0.2


def test_banded_pairs_equal_exact_on_planted_dups(emb):
    """rhp_banded_pairs at duplicate-grade similarity: candidates from L×r
    banding + exact verify reproduce the exact all-pairs result on a corpus
    with planted perturbed copies."""
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(as_double, lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    corpus = emb.select("vec_id", as_double.alias("embedding")).unionByName(pert)
    dim = len(emb.head()["embedding"])
    exact = {
        (r["i"], r["j"])
        for r in similarity.cosine_pairs(corpus, threshold=0.9).collect()
    }
    banded = {
        (r["i"], r["j"])
        for r in similarity.rhp_banded_pairs(corpus, dim=dim, threshold=0.9).collect()
    }
    assert exact, "planted corpus produced no near-dup pairs"
    assert banded == exact


def test_cosine_pairs_plan_is_not_nested_loop(emb):
    """The exact all-pairs operator must plan as hash-partitioned equi-joins
    over block pairs — never BroadcastNestedLoopJoin / CartesianProduct of
    the vector table against itself."""
    plan = similarity.cosine_pairs(emb, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_self_query(emb):
    """Querying with vector 0 without exclusion must rank vec 0 first with
    sim ≈ 1."""
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]
    top = similarity.cosine_topk(emb, q, k=1).collect()[0]
    assert top["vec_id"] == 0
    assert abs(top["sim"] - 1.0) < 1e-9


def test_multimodal_decode_and_frames(spark, docs):
    media = docs.limit(20).select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    decoded = multimodal.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["format"] == "fake"
        assert r["width"] >= 16 and r["height"] >= 16
        assert r["duration_ms"] == len(bytes(r["media"])) * 10

    frames = multimodal.sample_frames(media, every_n_bytes=100, frame_size=50)
    fr = frames.collect()
    assert {r["doc_id"] for r in fr} == {r["doc_id"] for r in rows}
    one = [r for r in fr if r["frame_idx"] == 0]
    assert all(len(bytes(r["frame"])) <= 50 for r in fr)
    assert len(one) == 20


def test_strict_decoder_is_explicit():
    with pytest.raises(NotImplementedError):
        multimodal.strict_decoder(b"\x00")


class TestWinnowing:
    """Winnowing guarantee (Schleimer et al.): a shared substring of length
    ≥ k + window − 1 yields ≥ 1 shared fingerprint; disjoint texts share
    none; fingerprinting is deterministic."""

    def _fps(self, spark, texts, k=8, window=4):
        from eth_indexer_spark.operators.dedup import winnow_fingerprints

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = winnow_fingerprints(df, "text", "doc_id", k=k, window=window).collect()
        return {r["doc"]: set(r["fingerprints"]) for r in rows}

    def test_shared_substring_shares_fingerprint(self, spark):
        common = "the quick brown fox jumps over the lazy dog once more"
        fps = self._fps(
            spark,
            [f"AAAA xxxx {common} yyyy", f"zzzz {common} BBBB wwww qqqq"],
        )
        assert fps[0] & fps[1], "shared substring must share a fingerprint"

    def test_disjoint_texts_share_nothing(self, spark):
        fps = self._fps(
            spark,
            ["abcdefghijklmnopqrstuvwxyz 0123", "ZYXWVUTSRQPONMLKJIHGFEDCBA 4567"],
        )
        assert not (fps[0] & fps[1])

    def test_deterministic_and_edge_lengths(self, spark):
        fps = self._fps(spark, ["same text here same", "same text here same", "ninechars", "tiny"])
        assert fps[0] == fps[1] and fps[0]
        assert len(fps[2]) == 1, "k ≤ len < k+window-1 keeps the global min"
        assert fps[3] == set(), "len < k is empty"

    def test_overlap_pairs(self, spark):
        from eth_indexer_spark.operators.dedup import (
            winnow_fingerprints,
            winnow_overlap_pairs,
        )

        common = "a long shared passage that definitely exceeds the gram window"
        df = spark.createDataFrame(
            [(0, f"intro {common} outro"), (1, f"{common} different tail"),
             (2, "completely unrelated content with nothing in common at all")],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(df, "text", "doc_id")
        pairs = {(r["i"], r["j"]) for r in winnow_overlap_pairs(fps, min_shared=2).collect()}
        assert (0, 1) in pairs
        assert not any(2 in p for p in pairs)


# ---------------------------------------------------------------------------
# Frequency-capped co-pair counting (operators/dedup.py:cap_hot_keys): the
# adversarial corpus — one shingle in EVERY document — must not generate
# O(N²) pairs through the inverted index.
# ---------------------------------------------------------------------------


def _adversarial_corpus(spark, n=300):
    """Every doc contains the same boilerplate 3-gram; besides that, each doc
    has unique content, except docs (2k, 2k+1) for k < 10 which are true
    near-duplicates of each other."""
    rows = []
    boiler = "common boilerplate header"
    for i in range(n):
        if i < 20:
            base = f"shared body text number {i // 2} repeated words here"
        else:
            base = f"unique content {i} alpha beta gamma delta {i * 7} epsilon zeta"
        rows.append((i, f"{boiler} {base}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_capped_jaccard_bounds_hot_key_blowup(spark):
    corpus = _adversarial_corpus(spark)
    pairs = {
        (r["i"], r["j"])
        for r in dedup.ngram_jaccard_pairs_capped(
            corpus, "text", "doc_id", k=3, threshold=0.5, max_df=50
        ).collect()
    }
    # the planted near-dup pairs survive (they share many rare shingles)...
    assert {(2 * k, 2 * k + 1) for k in range(10)} <= pairs
    # ...and the ubiquitous boilerplate shingles pair nothing by themselves
    assert all(i < 20 and j < 20 for i, j in pairs)


def test_capped_jaccard_plan_has_no_hot_key_pairs(spark):
    """The capped plan's pair stage sees ≤ max_df docs per key: verified by
    counting emitted candidate pairs — with the cap the candidate count is
    bounded by planted-duplicate overlap, without it the boilerplate key
    alone contributes N·(N−1)/2 pairs."""
    corpus = _adversarial_corpus(spark)
    sh = corpus.select(
        F.col("doc_id").alias("doc"), dedup.word_shingles("text", 3).alias("sh")
    ).select("doc", F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("s"))
    uncapped = dedup._copair_counts(sh, "s").count()
    capped = dedup._copair_counts(sh, "s", max_df=50).count()
    assert uncapped >= 300 * 299 / 2  # boilerplate key pairs everything
    assert capped < 1000  # bounded: only genuinely-overlapping docs pair


def test_capped_matches_uncapped_when_no_hot_keys(docs):
    """On a corpus with no shingle above the cap, capped ≡ uncapped."""
    want = {
        (r["i"], r["j"])
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5, exact=True).collect()
    }
    got = {
        (r["i"], r["j"])
        for r in dedup.ngram_jaccard_pairs_capped(
            docs, "text", "doc_id", k=3, threshold=0.5, max_df=10**6
        ).collect()
    }
    assert got == want


def test_minhash_bucket_cap_disables_mega_buckets(spark):
    """With every doc identical, each LSH bucket holds all N docs; a bucket
    cap suppresses candidate generation entirely (documented recall trade),
    while the uncapped form pairs everything."""
    n = 60
    same = spark.createDataFrame(
        [(i, "exactly the same words in every single document") for i in range(n)],
        "doc_id long, text string",
    )
    uncapped = dedup.minhash_lsh_pairs(same, "text", "doc_id", threshold=0.5).count()
    capped = dedup.minhash_lsh_pairs(
        same, "text", "doc_id", threshold=0.5, max_bucket=10
    ).count()
    assert uncapped == n * (n - 1) / 2
    assert capped == 0


def test_winnow_overlap_max_df_drops_boilerplate(spark):
    common = "a long shared passage that definitely exceeds the gram window"
    rows = [(i, f"{common} unique tail {i} {'x' * (i % 5)}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, "text", "doc_id")
    uncapped = dedup.winnow_overlap_pairs(fps, min_shared=2).count()
    capped = dedup.winnow_overlap_pairs(fps, min_shared=2, max_df=20).count()
    assert uncapped >= 40 * 39 / 2  # the shared passage pairs everything
    assert capped < uncapped


def test_registered_minhash_cap_is_invisible_on_normal_corpus(spark, docs):
    """The REGISTERED x_dedup_minhash_lsh entry runs with max_bucket=5000 (the
    degenerate-corpus guard); on a normal corpus every LSH bucket is far below
    the cap, so its output must be IDENTICAL to the uncapped operator call.
    The adversarial bound itself is pinned by
    test_minhash_max_bucket_caps_degenerate_corpus through the same operator
    + cap parameter the registered entry uses."""
    from eth_indexer_spark.plans import extensions as ext

    registered = {
        (r["i"], r["j"]) for r in ext.x_dedup_minhash_lsh(spark, SF).collect()
    }
    uncapped = {
        (r["i"], r["j"])
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", k=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert registered == uncapped


@pytest.mark.parametrize("driver_max_edges", [1 << 17, 0])
def test_connected_components_matches_union_find(spark, driver_max_edges):
    """Property test: BOTH paths — the size-gated driver union-find
    finisher (default) and the distributed alternating large-star/
    small-star rounds (forced via driver_max_edges=0) — must label every
    node with its component's MIN id, exactly matching an independent
    union-find, on shapes that stress it: a 40-edge chain (convergence
    depth), a star (hot node), a cycle, and random clumps."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 140)]      # long chain
    edges += [(500, x) for x in range(501, 521)]       # star
    edges += [(600, 601), (601, 602), (602, 600)]      # cycle
    for _ in range(60):                                # random clumps
        a, b = rng.randrange(0, 80), rng.randrange(0, 80)
        if a != b:
            edges.append((a, b))

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # union-by-min → root = min id
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {
        r["doc"]: r["cluster"]
        for r in dedup.connected_components(
            pairs, driver_max_edges=driver_max_edges
        ).collect()
    }
    assert got == want


def test_dedup_clusters_assigns_singletons(spark):
    """Docs in no pair are their own cluster; paired docs get the component
    min id."""
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "i long, j long")
    got = {
        r["doc"]: r["cluster"]
        for r in dedup.dedup_clusters(docs, pairs, "doc_id").collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 1, 6: 6, 7: 7}


@pytest.mark.parametrize("name", ["doc", "cluster", "doc_id"])
def test_dedup_clusters_rejects_passthrough_collision(spark, name):
    """A passthrough named like an output column (``doc``/``cluster``) or
    the id column would shadow it: a named error, raised before planning."""
    docs = spark.createDataFrame(
        [(0, 1, 2, "t")], "doc_id long, doc long, cluster long, text string"
    )
    pairs = spark.createDataFrame([(0, 0)], "i long, j long")
    with pytest.raises(ValueError, match="collides"):
        dedup.dedup_clusters(docs, pairs, "doc_id", passthrough=(name,))


def test_split_corpus_deterministic_disjoint_exhaustive(spark):
    """The three split invariants: every id gets exactly one label, the
    assignment is identical across calls (and engine-portable by
    construction — see x_corpus_split's oracle), and shares land near their
    targets."""
    from eth_indexer_spark.operators.sampling import split_corpus

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in split_corpus(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in split_corpus(docs, "doc_id").collect()}
    assert a == b and len(a) == 2000
    from collections import Counter

    shares = Counter(a.values())
    assert set(shares) == {"train", "val", "test"}
    assert shares["train"] > 1850   # ~98% of 2000, hash noise allowed
    assert 0 < shares["val"] < 80 and 0 < shares["test"] < 80

    with pytest.raises(ValueError, match="sum"):
        split_corpus(docs, "doc_id", splits={"train": 50, "val": 1})


# ---------------------------------------------------------------------------
# Sequence packing + weighted corpus mixing (operators/packing.py,
# operators/sampling.py:weighted_mix)
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_python_model(spark):
    """Placement equals the hand-computed concat-and-cut model, including a
    document spanning multiple packs and one landing exactly on a boundary;
    non-positive token counts are dropped."""
    from eth_indexer_spark.operators.packing import pack_sequences

    counts = [3, 5, 4, 12, 1, 9, 10, 2]
    rows = [(i, n) for i, n in enumerate(counts)] + [(90, 0), (91, -1)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_pack"], r["start_offset"],
            r["end_pack"], r["n_packs"],
        )
        for r in pack_sequences(df, "doc_id", "n", seq_len=10).collect()
    }

    want, start = {}, 0
    for i, n in enumerate(counts):
        end = start + n
        sp, ep = start // 10, (end - 1) // 10
        want[i] = (n, sp, start % 10, ep, ep - sp + 1)
        start = end
    assert got == want
    # doc 3 (12 tokens from offset 12) spans packs 1-2; doc 6 ends exactly
    # at a boundary and must NOT bleed into the next pack
    assert got[3][1:] == (1, 2, 2, 2)
    assert got[6] == (10, 3, 4, 4, 2)

    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, "doc_id", "n", seq_len=0)


def test_pack_sequences_full_packs_property(spark):
    """Every pack except possibly the last is exactly full: total tokens
    equal (max end_pack) * seq_len + tokens in the last pack, and pack
    indices are gap-free."""
    from eth_indexer_spark.operators.packing import pack_sequences

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n")
    )
    out = pack_sequences(df, "doc_id", "n", seq_len=64).cache()
    total = out.agg(F.sum("n_tokens")).collect()[0][0]
    last_pack = out.agg(F.max("end_pack")).collect()[0][0]
    assert (total - 1) // 64 == last_pack  # conservation: no token lost
    # gap-free: every pack index in [0, last] is covered by some document
    covered = out.select(
        F.explode(F.sequence("start_pack", "end_pack")).alias("p")
    ).distinct().count()
    assert covered == last_pack + 1


def test_weighted_mix_nested_deterministic_proportions(spark):
    """The kept set is stable across calls, nested across rates (0.25 ⊂ 0.5
    ⊂ 1.0), proportional within binomial tolerance, and groups without a
    rate take default_rate."""
    from eth_indexer_spark.operators.sampling import weighted_mix

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("src"),
    )

    def kept(rates, default=0.0):
        return {
            r["doc_id"]
            for r in weighted_mix(df, "doc_id", "src", rates, default_rate=default).collect()
        }

    full = kept({"s0": 1.0, "s1": 1.0})
    half = kept({"s0": 0.5, "s1": 0.5})
    quarter = kept({"s0": 0.25, "s1": 0.25})
    assert full == set(range(4000))
    assert quarter <= half <= full  # nested: sweeps are comparable
    assert half == kept({"s0": 0.5, "s1": 0.5})  # deterministic re-run
    assert abs(len(half) / 4000 - 0.5) < 0.05
    assert abs(len(quarter) / 4000 - 0.25) < 0.05

    only_s0 = kept({"s0": 1.0})  # s1 falls to default_rate=0 → dropped
    assert len(only_s0) == 2000 and all(i % 2 == 0 for i in only_s0)

    with pytest.raises(ValueError, match="rate"):
        weighted_mix(df, "doc_id", "src", {"s0": 1.5})


# ---------------------------------------------------------------------------
# Round-5 curation hardening: decontamination, repetition quality, stratified
# sampling, k-means clustering
# ---------------------------------------------------------------------------


def test_decontaminate_planted_overlap(spark):
    """A doc sharing an exact 4-gram with the benchmark is flagged; docs with
    only partial (≤3-word) overlap are clean; decontaminate() drops exactly
    the flagged set."""
    from eth_indexer_spark.operators import decontam

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "x y z alpha beta gamma delta q"),  # contains a bench 4-gram
            (2, "totally unrelated words here now"),
            (3, "alpha beta zeta delta epsilon x"),  # 3-word overlaps only
        ],
        "doc_id long, text string",
    )
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.contamination_flags(docs, bench, "text", "doc_id", k=4).collect()
    }
    assert flags == {1: True, 2: False, 3: False}
    clean = sorted(
        r["doc_id"]
        for r in decontam.decontaminate(docs, bench, "text", "doc_id", k=4).collect()
    )
    assert clean == [2, 3]
    # shuffle-fallback form produces the identical flag set
    flags_nb = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.contamination_flags(
            docs, bench, "text", "doc_id", k=4, broadcast_bench=False
        ).collect()
    }
    assert flags_nb == flags


def test_repetition_stats_hand_computed(spark):
    """Bigrams of 'a b a b a b' = [ab, ba, ab, ba, ab]: total 5, distinct 2
    → dup 1-2/5 = 0.6, top 3/5 = 0.6. All-distinct doc → dup 0, top 1/3.
    Sub-n docs carry zeros, not NULLs, and are not dropped."""
    from eth_indexer_spark.operators import quality

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["dup_ngram_frac"], r["top_ngram_frac"])
        for r in quality.repetition_stats(df, "text", "doc_id").collect()
    }
    assert out[1] == (0.6, 0.6)
    assert out[2] == (0.0, 0.3333)
    assert out[3] == (0.0, 0.0)


def test_stratified_sample_counts_nested_deterministic(spark):
    """Exactly min(n, |group|) rows per group; smaller samples are subsets
    of larger ones (nested audits agree); re-runs are identical."""
    from eth_indexer_spark.operators.sampling import stratified_sample

    d = load_table(spark, SF, "documents").select("doc_id", "lang")
    sizes = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}

    def ids(n):
        out = {}
        for r in stratified_sample(d, "doc_id", "lang", n).collect():
            out.setdefault(r["lang"], set()).add(r["doc_id"])
        return out

    s10 = ids(10)
    for lang, size in sizes.items():
        assert len(s10.get(lang, set())) == min(10, size), lang
    s5 = ids(5)
    for lang in s5:
        assert s5[lang] <= s10[lang]  # nested
    assert ids(10) == s10  # deterministic re-run


def test_kmeans_recovers_planted_clusters(spark):
    """Well-separated planted clusters (interleaved ids so the lowest-id
    seeds start one-per-cluster) are recovered exactly, and the fixpoint is
    deterministic across runs."""
    from eth_indexer_spark.operators.clustering import kmeans

    k, dim, n_per = 3, 8, 20
    rows = []
    for vid in range(k * n_per):
        c = vid % k
        center = [10.0 if d == c else 0.0 for d in range(dim)]
        jitter = [((vid * 31 + d * 7) % 11 - 5) * 0.01 for d in range(dim)]
        rows.append((vid, [center[d] + jitter[d] for d in range(dim)]))
    emb3 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    asg = {r["vec_id"]: r["cluster"] for r in kmeans(emb3, k=k, max_iter=10).collect()}
    # recovered partition == planted partition (cluster ids may permute)
    by_cluster = {}
    for vid, cl in asg.items():
        by_cluster.setdefault(cl, set()).add(vid % k)
    assert len(by_cluster) == k
    for planted in by_cluster.values():
        assert len(planted) == 1, by_cluster
    asg2 = {r["vec_id"]: r["cluster"] for r in kmeans(emb3, k=k, max_iter=10).collect()}
    assert asg2 == asg


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k larger than the number of distinct locations: surplus clusters go
    empty and keep their seed centroid instead of crashing or collapsing."""
    from eth_indexer_spark.operators.clustering import kmeans_fit

    rows = [(i, [float(i % 2) * 10.0] * 4) for i in range(10)]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb2, k=4, max_iter=5)
    assert len(cents) == 4
    with pytest.raises(ValueError, match="exceeds"):
        kmeans_fit(emb2, k=11)


def test_ivf_trained_full_probe_equals_exact(emb):
    """Probing every trained list is an exact scan → must equal the exact
    top-k; a partial probe must beat chance overlap (random vectors are
    IVF's worst regime, so the bound is modest — mirrors the untrained
    test)."""
    from eth_indexer_spark.operators.clustering import ivf_topk_trained

    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]
    exact = [
        r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10, exclude_id=0).collect()
    ]
    full = [
        r["vec_id"]
        for r in ivf_topk_trained(
            emb, q, k=10, nlist=8, nprobe=8, max_iter=3, exclude_id=0
        ).collect()
    ]
    assert full == exact
    part = {
        r["vec_id"]
        for r in ivf_topk_trained(
            emb, q, k=10, nlist=8, nprobe=4, max_iter=3, exclude_id=0
        ).collect()
    }
    assert len(set(exact) & part) / 10 >= 0.2


def test_chunk_documents_hand_computed(spark):
    """10 tokens, chunk 4, overlap 2 (stride 2): starts 0,2,4,6 → four
    chunks; a start at 8 would yield 't8 t9', wholly contained in chunk 3,
    and must NOT be emitted; tails shrink below chunk_tokens but never go
    uncovered."""
    from eth_indexer_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], "doc_id long, text string"
    )
    got = {
        r["chunk_idx"]: (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=2).collect()
    }
    assert got == {
        0: ("t0 t1 t2 t3", 4),
        1: ("t2 t3 t4 t5", 4),
        2: ("t4 t5 t6 t7", 4),
        3: ("t6 t7 t8 t9", 4),
    }
    # a short document (<= overlap tokens) still gets its single chunk
    short = spark.createDataFrame([(2, "a b")], "doc_id long, text string")
    got2 = [
        (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(short, "text", "doc_id", chunk_tokens=4, overlap=2).collect()
    ]
    assert got2 == [(0, "a b", 2)]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, "text", "doc_id", chunk_tokens=0)


def test_chunk_documents_covers_every_token(spark, docs):
    """Property over the real corpus: concatenating each chunk's stride
    prefix (and the final chunk whole) reconstructs the document exactly —
    no token lost or duplicated outside the declared overlap."""
    from eth_indexer_spark.operators.packing import chunk_documents

    chunk_tokens, overlap = 64, 16
    stride = chunk_tokens - overlap
    sample = docs.limit(30)
    chunks = chunk_documents(
        sample, "text", "doc_id", chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    originals = {r["doc_id"]: r["text"] for r in sample.collect()}
    assert set(by_doc) == set(originals)
    for doc_id, parts in by_doc.items():
        last = max(parts)
        rebuilt = []
        for i in range(last + 1):
            toks = parts[i].split(" ")
            rebuilt.extend(toks if i == last else toks[:stride])
        # the final chunk may re-cover tokens the previous one already had
        orig = originals[doc_id].split(" ")
        assert rebuilt[: len(orig)] == orig or " ".join(rebuilt) == originals[doc_id], doc_id


def test_semantic_dedup_planted_pairs(emb):
    """SemDeDup over corpus ∪ perturbed copies: ≥95% of planted (v, v+10⁵)
    pairs share a sem_cluster (a few fall at k-means cluster boundaries —
    the documented recall trade), and nothing unrelated merges (no cluster
    exceeds the planted pair size)."""
    from eth_indexer_spark.operators.clustering import semantic_dedup

    as_double = F.transform("embedding", lambda x: x.cast("double"))
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(as_double, lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    corpus = emb.select("vec_id", as_double.alias("embedding")).unionByName(pert)
    n = emb.count()
    m = {
        r["doc"]: r["sem_cluster"]
        for r in semantic_dedup(corpus, k=8, threshold=0.95, max_iter=5).collect()
    }
    assert len(m) == 2 * n
    paired = sum(1 for v in range(n) if m[v] == m[v + 100000])
    assert paired / n >= 0.95
    import collections

    sizes = collections.Counter(m.values())
    assert max(sizes.values()) <= 2  # random vectors never merge


def test_semantic_dedup_auto_k_scales_cluster_count():
    """k=None derives k ≈ N/target (the SemDeDup recipe): cluster COUNT
    grows with the corpus so the within-cluster pair join is
    O(N · cluster_size) — a pinned k measured ×16 per ×4-embedding decade
    (quadratic O(N²/k)) before auto-k. Floor 2, cap at the literal-centroid
    bound."""
    from eth_indexer_spark.operators.clustering import derive_k

    assert derive_k(16_000) == 8          # = the former pinned bench k
    assert derive_k(64_000) == 32         # ×4 corpus → ×4 clusters
    assert derive_k(256_000) == 128       # cluster size stays ~target
    assert derive_k(100) == 2             # floor: never a single cluster
    assert derive_k(10_000_000) == 512    # cap: the expression-tree bound
    assert derive_k(4_000, target_cluster_size=500) == 8


def test_tokenize_vocab_and_encode_hand_computed(spark):
    """Vocab ranks by (count desc, word asc) with dense 1-based ids; OOV
    maps to unk 0; min_count prunes the tail before ranking."""
    from eth_indexer_spark.operators.tokenize import build_vocab, encode_documents

    df = spark.createDataFrame(
        [(1, "b a b c b a"), (2, "a d")], "doc_id long, text string"
    )
    # counts: b=3, a=3, c=1, d=1 → ranked: a(1), b(2), c(3), d(4)
    vocab = {r["word"]: r["token_id"] for r in build_vocab(df, "text").collect()}
    assert vocab == {"a": 1, "b": 2, "c": 3, "d": 4}
    v2 = {r["word"]: r["token_id"] for r in build_vocab(df, "text", vocab_size=2).collect()}
    assert v2 == {"a": 1, "b": 2}
    vmin = {r["word"]: r["token_id"] for r in build_vocab(df, "text", min_count=2).collect()}
    assert vmin == {"a": 1, "b": 2}

    enc = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"], r["n_unk"])
        for r in encode_documents(
            df, "text", "doc_id", build_vocab(df, "text", vocab_size=2)
        ).collect()
    }
    assert enc[1] == ([2, 1, 2, 0, 2, 1], 6, 1)  # c → unk
    assert enc[2] == ([1, 0], 2, 1)  # d → unk


def test_incremental_dedup_converges(spark):
    """Rows whose digest is already indexed are dropped; within-batch dups
    keep the min id; feeding the survivors' digests back into the index and
    replaying the same batch yields nothing — the at-least-once ingest
    convergence property."""
    from eth_indexer_spark.operators import dedup as dd

    index = (
        spark.createDataFrame([("known",)], "text string")
        .select(dd.content_digest("text").alias("digest"))
    )
    batch = spark.createDataFrame(
        [(5, "known"), (3, "fresh"), (7, "fresh"), (9, "other")],
        "doc_id long, text string",
    )
    out = {r["keep_id"] for r in dd.incremental_dedup(batch, index, "text", "doc_id").collect()}
    assert out == {3, 9}  # 'known' indexed; 'fresh' min-id-wins
    advanced = index.unionByName(
        dd.incremental_dedup(batch, index, "text", "doc_id").select("digest")
    )
    replay = dd.incremental_dedup(batch, advanced, "text", "doc_id").collect()
    assert replay == []


def test_shuffle_order_is_a_deterministic_permutation(spark):
    """Positions are exactly 1..N, identical across runs, and not the
    identity order (the hash actually permutes)."""
    from eth_indexer_spark.operators.sampling import shuffle_order

    d = load_table(spark, SF, "documents").select("doc_id")
    n = d.count()
    rows = shuffle_order(d, "doc_id").collect()
    pos = sorted(r["shuffle_pos"] for r in rows)
    assert pos == list(range(1, n + 1))
    m1 = {r["doc_id"]: r["shuffle_pos"] for r in rows}
    m2 = {r["doc_id"]: r["shuffle_pos"] for r in shuffle_order(d, "doc_id").collect()}
    assert m1 == m2
    assert any(m1[i] != i + 1 for i in m1)  # not the identity permutation


def test_line_dedup_hand_computed(spark):
    """Lines in ≥2 distinct docs vanish everywhere; within-doc repeats
    survive; fully-boilerplate docs drop out; order is preserved."""
    d = spark.createDataFrame(
        [
            (1, "keep me\ncookie banner\nunique tail"),
            (2, "cookie banner\nother text\nother text"),
            (3, "cookie banner"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines_kept"])
        for r in dedup.line_dedup(d, "text", "doc_id", min_df=2).collect()
    }
    assert out == {
        1: ("keep me\nunique tail", 2),
        2: ("other text\nother text", 2),  # within-doc repeat: df=1, kept
    }  # doc 3 was pure boilerplate → dropped entirely


def test_substring_dedup_hand_computed(spark):
    """A duplicated 3-token span is excised from BOTH carriers (including a
    within-doc repeat), unique text survives, a doc that IS the span drops
    out, and docs shorter than the gram are untouched."""
    d = spark.createDataFrame(
        [
            (1, "a b c d e unique tail one"),
            (2, "prefix a b c d e suffix"),
            (3, "a b c d e"),
            (4, "x y"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"])
        for r in dedup.substring_dedup(d, "text", "doc_id", min_len=5).collect()
    }
    # "a b c d e" occurs in docs 1, 2, 3 → all its tokens excised everywhere
    assert out == {
        1: ("unique tail one", 3),
        2: ("prefix suffix", 2),
        4: ("x y", 2),  # shorter than min_len: no grams, never excised
    }  # doc 3 was entirely the duplicated span → dropped


def test_substring_dedup_matches_brute_force_model(spark):
    """Randomized small-vocab corpus vs a Python model of the exact
    semantics: token i removed iff inside some L-gram occurring
    >= min_count times corpus-wide (within-doc repeats count)."""
    import random

    rng = random.Random(406)
    vocab = ["red", "green", "blue", "cyan", "gold", "gray"]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 28)))
        for i in range(40)
    }
    L, min_count = 3, 2

    grams: dict[str, int] = {}
    toks = {i: t.split(" ") for i, t in texts.items()}
    for w in toks.values():
        for s in range(len(w) - L + 1):
            g = " ".join(w[s : s + L])
            grams[g] = grams.get(g, 0) + 1
    want = {}
    for i, w in toks.items():
        covered = set()
        for s in range(len(w) - L + 1):
            if grams[" ".join(w[s : s + L])] >= min_count:
                covered.update(range(s, s + L))
        kept = [t for j, t in enumerate(w) if j not in covered]
        if kept:
            want[i] = (" ".join(kept), len(kept))

    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"])
        for r in dedup.substring_dedup(
            d, "text", "doc_id", min_len=L, min_count=min_count
        ).collect()
    }
    assert got == want


def test_incremental_substring_dedup_random_splits_match_batch_mode(spark, docs):
    """incremental_substring_dedup(batch, index(corpus)) must equal
    batch-mode substring_dedup over (corpus ∪ batch) restricted to the
    batch, for ANY split — coverage depends only on combined gram counts,
    and md5-seeded random splits catch split-pattern-dependent bugs."""
    L = 5
    small = docs.filter(F.col("doc_id") < 120)
    full = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"])
        for r in dedup.substring_dedup(small, "text", "doc_id", min_len=L).collect()
    }
    for seed in ("s1", "s2"):
        flag = (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit(seed), "doc_id")), 1, 4),
                16,
                10,
            ).cast("long")
            % 3
            == 0
        )
        batch = small.filter(flag)
        corpus = small.filter(~flag)
        batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        expect = {i: v for i, v in full.items() if i in batch_ids}
        idx = dedup.substring_gram_index(corpus, "text", "doc_id", min_len=L)
        got = {
            r["doc_id"]: (r["clean_text"], r["n_tokens_kept"])
            for r in dedup.incremental_substring_dedup(
                batch, idx, "text", "doc_id", min_len=L
            ).collect()
        }
        assert got == expect, f"seed={seed}"


def test_incremental_substring_dedup_edges(spark):
    """Empty batch and empty index don't error; an empty index degrades to
    within-batch-only excision; index advance (union + re-aggregate)
    reproduces the from-scratch index."""
    d = spark.createDataFrame(
        [(1, "p q r s unique one"), (2, "head p q r s tail")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    eidx = dedup.substring_gram_index(empty, "text", "doc_id", min_len=4)
    assert (
        dedup.incremental_substring_dedup(empty, eidx, "text", "doc_id", min_len=4).count()
        == 0
    )
    # empty index: "p q r s" appears twice WITHIN the batch → still excised
    got = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.incremental_substring_dedup(
            d, eidx, "text", "doc_id", min_len=4
        ).collect()
    }
    assert got == {1: "unique one", 2: "head tail"}
    # advancing corpus index by the batch == from-scratch index over both
    more = spark.createDataFrame([(3, "p q r s again")], "doc_id long, text string")
    advanced = (
        dedup.substring_gram_index(d, "text", "doc_id", min_len=4)
        .unionByName(dedup.substring_gram_index(more, "text", "doc_id", min_len=4))
        .groupBy("gdigest", "gram_len")
        .agg(F.sum("cnt").alias("cnt"))
    )
    scratch = dedup.substring_gram_index(
        d.unionByName(more), "text", "doc_id", min_len=4
    )
    assert {(r["gdigest"], r["cnt"]) for r in advanced.collect()} == {
        (r["gdigest"], r["cnt"]) for r in scratch.collect()
    }
    # an index built with a DIFFERENT gram length contributes nothing —
    # the scrub degrades to within-batch dedup instead of silently probing
    # digests that could never match
    wrong = dedup.substring_gram_index(d, "text", "doc_id", min_len=5)
    via_wrong = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.incremental_substring_dedup(
            d, wrong, "text", "doc_id", min_len=4
        ).collect()
    }
    assert via_wrong == got


def test_duplicated_spans_hand_computed(spark):
    """Overlapping duplicated windows merge into one maximal span; disjoint
    regions stay separate; span_text matches the reported positions.
    Duplicated 3-grams here: "a b c" (d1@0, d2@0), "b c d" (d1@1, d2@1,
    d3@0), "c d e" (d1@2, d3@1), "x y z" (d1@6, d3@6)."""
    d = spark.createDataFrame(
        [
            (1, "a b c d e f x y z"),
            (2, "a b c d q r s t u"),
            (3, "b c d e m n x y z"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_span_tokens"], r["span_text"])
        for r in dedup.duplicated_spans(d, "text", "doc_id", min_len=3).collect()
    }
    assert got == {
        (1, 0, 5, 5, "a b c d e"),  # starts {0,1,2} merged
        (1, 6, 9, 3, "x y z"),
        (2, 0, 4, 4, "a b c d"),  # starts {0,1} merged
        (3, 0, 4, 4, "b c d e"),
        (3, 6, 9, 3, "x y z"),
    }


def test_duplicated_spans_cover_exactly_what_dedup_excises(spark, docs):
    """Cross-operator invariant: the reported spans' token positions are
    EXACTLY the positions substring_dedup removes — reconstructing each
    doc from (kept tokens) ∪ (span tokens) in position order yields the
    original text."""
    small = docs.filter(F.col("doc_id") < 150)
    L = 6
    spans = dedup.duplicated_spans(small, "text", "doc_id", min_len=L).collect()
    covered: dict[int, set] = {}
    for r in spans:
        covered.setdefault(r["doc_id"], set()).update(
            range(r["span_start"], r["span_end"])
        )
    kept = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.substring_dedup(small, "text", "doc_id", min_len=L).collect()
    }
    for row in small.collect():
        toks = row["text"].split(" ")
        cov = covered.get(row["doc_id"], set())
        expect_kept = [t for i, t in enumerate(toks) if i not in cov]
        if expect_kept:
            assert kept[row["doc_id"]] == " ".join(expect_kept)
        else:
            assert row["doc_id"] not in kept  # fully-excised docs drop out
        # spans never overlap and never touch (maximal merge)
        ss = sorted(
            (r["span_start"], r["span_end"])
            for r in spans
            if r["doc_id"] == row["doc_id"]
        )
        for (a1, a2), (b1, b2) in zip(ss, ss[1:]):
            assert a2 < b1


def _dsir_model(raw_texts, tgt_texts, n, B):
    """Sequential Python model of dsir_weights: md5 buckets, add-one
    smoothed log-ratios, per-doc sum in gram order — the exact float
    operations the Spark plan performs (driver-side math.log literals,
    in-array-order accumulation), so equality is bit-for-bit."""
    import hashlib
    import math

    def buckets(text):
        w = text.split(" ")
        grams = [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B for g in grams
        ]

    def counts(texts):
        c: dict[int, int] = {}
        for t in texts:
            for b in buckets(t):
                c[b] = c.get(b, 0) + 1
        return c

    tgt, rawc = counts(tgt_texts), counts(raw_texts)
    t_total, r_total = sum(tgt.values()), sum(rawc.values())
    ratio = {
        b: math.log((tgt.get(b, 0) + 1) / (t_total + B))
        - math.log((rawc.get(b, 0) + 1) / (r_total + B))
        for b in range(B)
    }
    out = {}
    for i, t in enumerate(raw_texts):
        acc = 0.0
        bs = buckets(t)
        for b in bs:
            acc = acc + ratio[b]
        out[i] = (len(bs), acc)
    return out


def test_dsir_weights_match_python_model_exactly(spark):
    """Spark DSIR weights == the sequential Python model bit-for-bit: same
    md5 buckets, same driver-computed log-ratio literals, same in-order
    double accumulation. No tolerance."""
    import random

    from eth_indexer_spark.operators.dsir import dsir_weights

    rng = random.Random(614)
    vocab_t = ["alpha", "beta", "gamma", "delta"]
    vocab_r = ["delta", "eps", "zeta", "eta", "theta"]
    tgt_texts = [
        " ".join(rng.choice(vocab_t) for _ in range(rng.randint(1, 20)))
        for _ in range(15)
    ]
    raw_texts = [
        " ".join(rng.choice(vocab_r) for _ in range(rng.randint(1, 20)))
        for _ in range(30)
    ]
    B, n = 64, 2
    want = _dsir_model(raw_texts, tgt_texts, n, B)

    raw = spark.createDataFrame(list(enumerate(raw_texts)), "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(i + 1000, t) for i, t in enumerate(tgt_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_logweight"])
        for r in dsir_weights(raw, tgt, "text", "doc_id", n=n, num_buckets=B).collect()
    }
    assert got == want


def test_dsir_select_recovers_planted_domain(spark):
    """Raw docs written in the target's vocabulary must outrank raw docs
    from a disjoint vocabulary — the top-k is exactly the planted
    target-like set, deterministically ordered."""
    from eth_indexer_spark.operators.dsir import dsir_select

    tgt = spark.createDataFrame(
        [(100 + i, "sun moon star sky sun moon star") for i in range(5)],
        "doc_id long, text string",
    )
    likes = [(i, "moon star sky sun moon sun star sky") for i in range(10)]
    unlikes = [(50 + i, "rock iron coal ore rock iron coal") for i in range(10)]
    raw = spark.createDataFrame(likes + unlikes, "doc_id long, text string")
    top = dsir_select(raw, tgt, "text", "doc_id", k=10, num_buckets=256)
    ids = [r["doc_id"] for r in top.collect()]
    assert set(ids) == set(range(10))
    # deterministic: a second run returns the identical ordered result
    again = [
        r["doc_id"]
        for r in dsir_select(raw, tgt, "text", "doc_id", k=10, num_buckets=256).collect()
    ]
    assert ids == again


def test_dsir_gumbel_resampling_seeded(spark, docs):
    """Gumbel-top-k: same seed → identical selection; different seeds →
    independent resamples (differ on a weight-mixed corpus); k = corpus →
    the full set regardless of seed; heavily target-like docs still
    dominate the sample."""
    from eth_indexer_spark.operators.dsir import dsir_select

    small = docs.filter(F.col("doc_id") < 100)
    tgt = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
    sel = lambda s, k=30: [  # noqa: E731
        r["doc_id"]
        for r in dsir_select(
            small, tgt, "text", "doc_id", k=k, num_buckets=256, seed=s
        ).collect()
    ]
    a1, a2, b = sel("s1"), sel("s1"), sel("s2")
    assert a1 == a2  # bit-reproducible
    assert set(a1) != set(b) or a1 != b  # an independent resample
    assert set(sel("s1", k=10**6)) == {r["doc_id"] for r in small.collect()}


def test_dsir_short_docs_kept_with_zero_weight(spark):
    """Documents shorter than n words carry no feature: weight 0.0 and
    n_grams 0, KEPT in the weight table (selection decides, not the
    featurizer)."""
    from eth_indexer_spark.operators.dsir import dsir_weights

    raw = spark.createDataFrame([(1, "solo"), (2, "two words")], "doc_id long, text string")
    tgt = spark.createDataFrame([(9, "two words here")], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_logweight"])
        for r in dsir_weights(raw, tgt, "text", "doc_id", num_buckets=32).collect()
    }
    assert got[1] == (0, 0.0)
    assert got[2][0] == 1


def test_unigram_lm_score_hand_computed(spark):
    """Self-referenced corpus: counts over {the:3, cat:2, sat:1, dog:1}.
    hapax = tokens with corpus count 1, avg_token_df = mean count, OOV
    impossible against self."""
    from eth_indexer_spark.operators import quality

    d = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the cat dog")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_hapax"], r["n_oov"], r["avg_token_df"])
        for r in quality.unigram_lm_score(d, "text", "doc_id").collect()
    }
    assert out == {
        1: (3, 1, 0, round((3 + 2 + 1) / 3, 4)),
        2: (4, 1, 0, round((3 + 3 + 2 + 1) / 4, 4)),
    }


def test_unigram_lm_score_external_ref_counts_oov(spark):
    """Against an external reference corpus, unseen tokens are OOV (count 0
    in avg_token_df) and hapax is measured in the REFERENCE."""
    from eth_indexer_spark.operators import quality

    docs = spark.createDataFrame([(1, "the cat warped")], "doc_id long, text string")
    ref = spark.createDataFrame([(9, "the the cat")], "doc_id long, text string")
    row = quality.unigram_lm_score(docs, "text", "doc_id", ref=ref).first()
    assert (row["n_tokens"], row["n_hapax"], row["n_oov"]) == (3, 1, 1)
    assert row["avg_token_df"] == round((2 + 1 + 0) / 3, 4)
    # bits mode runs and produces a positive surprisal
    b = quality.unigram_lm_score(docs, "text", "doc_id", ref=ref, bits=True).first()
    assert b["bits_per_token"] > 0


def test_scrub_pii_hand_computed(spark):
    from eth_indexer_spark.functions import text as tx

    d = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.example.org or 192.168.0.1 call 555-867-5309 end"),
            (2, "no pii here 1.2 v3.4.5 12-34-56"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            tx.scrub_pii("text").alias("t"),
            tx.pii_count("text", "email").alias("e"),
            tx.pii_count("text", "ip").alias("i"),
            tx.pii_count("text", "phone").alias("p"),
        ).collect()
    }
    assert rows[1]["t"] == "mail <EMAIL> or <IP> call <PHONE> end"
    assert (rows[1]["e"], rows[1]["i"], rows[1]["p"]) == (1, 1, 1)
    assert rows[2]["t"] == "no pii here 1.2 v3.4.5 12-34-56"
    assert (rows[2]["e"], rows[2]["i"], rows[2]["p"]) == (0, 0, 0)


def test_token_budget_sample_fills_but_never_exceeds(spark):
    """Per group: cumulative tokens ≤ budget, the kept set is the md5-order
    prefix (adding the first excluded doc would exceed the budget), and
    membership is deterministic across runs."""
    from eth_indexer_spark.functions import text as tx
    from eth_indexer_spark.operators.sampling import token_budget_sample

    d = (
        load_table(spark, SF, "documents")
        .select("doc_id", "source", tx.token_count("text").alias("tc"))
    )
    budget = 300
    out = token_budget_sample(d, "doc_id", "source", "tc", budget=budget)
    rows = out.collect()
    per_group: dict[str, int] = {}
    kept_ids = set()
    for r in rows:
        per_group[r["source"]] = max(per_group.get(r["source"], 0), r["cum_tokens"])
        kept_ids.add(r["doc_id"])
    assert per_group and all(c <= budget for c in per_group.values())
    # prefix property: replay the md5 order in python and expect the same set
    import hashlib

    want = set()
    acc: dict[str, int] = {}
    for r in sorted(
        d.collect(), key=lambda r: hashlib.md5(str(r["doc_id"]).encode()).hexdigest() + str(r["doc_id"])
    ):
        acc[r["source"]] = acc.get(r["source"], 0) + r["tc"]
        if acc[r["source"]] <= budget:  # truncate-at-first-overflow, not knapsack
            want.add(r["doc_id"])
    assert kept_ids == want


def test_weighted_mix_validates_default_rate(spark):
    from eth_indexer_spark.operators.sampling import weighted_mix

    d = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="default_rate"):
        weighted_mix(d, "doc_id", "source", {"a": 0.5}, default_rate=1.5)


def test_pii_counts_match_emitted_tokens_on_overlap(spark):
    """An email whose local part looks like a phone number is consumed
    whole by the email rule; the audit must NOT also report a phone."""
    from eth_indexer_spark.functions import text as tx

    d = spark.createDataFrame([(1, "reach 555-867-5309@example.com now")], "i long, t string")
    r = d.select(
        tx.scrub_pii("t").alias("s"),
        tx.pii_count("t", "email").alias("e"),
        tx.pii_count("t", "phone").alias("p"),
    ).collect()[0]
    assert r["s"] == "reach <EMAIL> now"
    assert (r["e"], r["p"]) == (1, 0)


def test_incremental_minhash_matches_batch_mode(spark, docs):
    """incremental_minhash_pairs over (index(corpus), batch) == batch-mode
    minhash_lsh_pairs over the full corpus, restricted to pairs touching
    the batch — the same hash family and banding make the equality exact."""
    corpus = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    full = {
        (r["i"], r["j"])
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", k=3).collect()
    }
    new_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    expect = {(i, j) for (i, j) in full if i in new_ids or j in new_ids}

    idx = dedup.minhash_index(corpus, "text", "doc_id")
    inc = {
        (r["i"], r["j"])
        for r in dedup.incremental_minhash_pairs(
            batch, idx, "text", "doc_id", k=3
        ).collect()
    }
    assert inc == expect
    assert expect, "fixture corpus must plant at least one batch-touching pair"


def test_incremental_minhash_cap_counts_corpus_plus_batch(spark):
    """max_bucket semantics match batch mode: the cap counts corpus + batch
    members of a bucket. 40 identical docs split 30/10: cap 100 keeps the
    bucket (345 batch-touching pairs of the 780 total), cap 10 drops it
    everywhere (0 pairs) — identical to batch-mode behavior."""
    same = spark.createDataFrame(
        [(i, "same text everywhere for every doc in this corpus") for i in range(40)],
        "doc_id long, text string",
    )
    corpus, batch = same.filter("doc_id < 30"), same.filter("doc_id >= 30")
    idx = dedup.minhash_index(corpus, "text", "doc_id")
    kept = dedup.incremental_minhash_pairs(
        batch, idx, "text", "doc_id", k=3, max_bucket=100
    ).count()
    assert kept == 780 - 435  # C(40,2) - C(30,2): only batch-touching pairs
    dropped = dedup.incremental_minhash_pairs(
        batch, idx, "text", "doc_id", k=3, max_bucket=10
    ).count()
    assert dropped == 0


def test_incremental_minhash_store_roundtrip(spark, tmp_path, docs):
    """The full crawl-loop story: persist the corpus LSH index as a store
    dimension, dedupe an arriving batch against the STORED index (read
    back through the crash-safe dimension path), then append the batch's
    own index rows to advance the corpus. Results must match the purely
    in-memory path bit-for-bit; the advanced index must equal the full
    corpus re-indexed. (At 100 TB the index would live as a batch-
    partitioned appended table; the dimension path exercises the same
    read surface.)"""
    from eth_indexer_spark.sinks.logstore import LogStore

    corpus = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    store = LogStore(spark, str(tmp_path / "store"))
    store.update_dimension("minhash_index", dedup.minhash_index(corpus, "text", "doc_id"))

    stored = store.read("minhash_index")
    got = {
        (r["i"], r["j"])
        for r in dedup.incremental_minhash_pairs(
            batch, stored, "text", "doc_id", k=3
        ).collect()
    }
    direct = {
        (r["i"], r["j"])
        for r in dedup.incremental_minhash_pairs(
            batch, dedup.minhash_index(corpus, "text", "doc_id"), "text", "doc_id", k=3
        ).collect()
    }
    assert got == direct

    # advance the corpus: append the batch's index rows, re-read, compare
    store.append_dimension("minhash_index", dedup.minhash_index(batch, "text", "doc_id"))
    advanced = {
        (r["doc"], tuple(r["buckets"]))
        for r in store.read("minhash_index").select("doc", "buckets").collect()
    }
    full = {
        (r["doc"], tuple(r["buckets"]))
        for r in dedup.minhash_index(docs, "text", "doc_id").select("doc", "buckets").collect()
    }
    assert advanced == full


def test_incremental_substring_store_roundtrip(spark, tmp_path, docs):
    """Crawl-loop story for EXACTSUBSTR: persist the corpus gram-count
    index as a store dimension, scrub an arriving batch against the STORED
    index, then append the batch's delta counts; aggregating the
    append-only rows at read must equal the full corpus re-indexed, and
    the stored-index scrub must match the in-memory path exactly."""
    from eth_indexer_spark.sinks.logstore import LogStore

    small = docs.filter("doc_id < 120")
    corpus = small.filter("doc_id % 4 != 0")
    batch = small.filter("doc_id % 4 = 0")
    store = LogStore(spark, str(tmp_path / "store"))
    store.update_dimension(
        "substr_index", dedup.substring_gram_index(corpus, "text", "doc_id", min_len=5)
    )

    stored = store.read("substr_index")
    got = {
        (r["doc_id"], r["clean_text"], r["n_tokens_kept"])
        for r in dedup.incremental_substring_dedup(
            batch, stored, "text", "doc_id", min_len=5
        ).collect()
    }
    direct = {
        (r["doc_id"], r["clean_text"], r["n_tokens_kept"])
        for r in dedup.incremental_substring_dedup(
            batch,
            dedup.substring_gram_index(corpus, "text", "doc_id", min_len=5),
            "text",
            "doc_id",
            min_len=5,
        ).collect()
    }
    assert got == direct

    # advance: append the batch's delta rows; counts aggregate at read
    store.append_dimension(
        "substr_index", dedup.substring_gram_index(batch, "text", "doc_id", min_len=5)
    )
    advanced = {
        (r["gdigest"], r["cnt"])
        for r in store.read("substr_index")
        .groupBy("gdigest")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    full = {
        (r["gdigest"], r["cnt"])
        for r in dedup.substring_gram_index(small, "text", "doc_id", min_len=5).collect()
    }
    assert advanced == full


def test_incremental_minhash_empty_inputs(spark):
    """Empty batch, empty index, both empty, and sub-k documents all yield
    empty results without erroring — the crawl loop's first batch and idle
    ticks hit these shapes."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    idx = dedup.minhash_index(docs, "text", "doc_id")
    eidx = dedup.minhash_index(empty, "text", "doc_id")
    assert dedup.incremental_minhash_pairs(empty, idx, "text", "doc_id").count() == 0
    assert dedup.incremental_minhash_pairs(docs, eidx, "text", "doc_id").count() == 0
    assert dedup.incremental_minhash_pairs(empty, eidx, "text", "doc_id").count() == 0
    short = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert dedup.minhash_index(short, "text", "doc_id").count() == 0


def test_incremental_minhash_random_splits_match_batch_mode(spark, docs):
    """Batch-mode equality must hold for ANY corpus/batch split, not just
    the round-robin one — md5-seeded random splits catch split-pattern-
    dependent bugs (e.g. candidate pruning that accidentally depends on id
    order)."""
    full = {
        (r["i"], r["j"])
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", k=3).collect()
    }
    for seed in ("s1", "s2"):
        flag = F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(seed), "doc_id")), 1, 4), 16, 10).cast("long") % 3 == 0
        batch = docs.filter(flag)
        corpus = docs.filter(~flag)
        new_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        expect = {(i, j) for (i, j) in full if i in new_ids or j in new_ids}
        idx = dedup.minhash_index(corpus, "text", "doc_id")
        inc = {
            (r["i"], r["j"])
            for r in dedup.incremental_minhash_pairs(
                batch, idx, "text", "doc_id", k=3
            ).collect()
        }
        assert inc == expect, f"seed={seed}"


def test_split_corpus_null_id_gets_null_split(spark):
    """A NULL id cannot be hashed: its split label must be NULL, never
    silently folded into the LAST declared split (the eval set!). The
    sibling weighted_mix drops NULL-id rows for the same reason."""
    from eth_indexer_spark.operators.sampling import split_corpus, weighted_mix

    df = spark.createDataFrame(
        [(None, "a"), (1, "b"), (2, "c")], "doc_id long, text string"
    )
    got = {r["text"]: r["split"] for r in split_corpus(df, "doc_id").collect()}
    assert got["a"] is None
    assert got["b"] is not None and got["c"] is not None
    kept = weighted_mix(df, "doc_id", "text", rates={}, default_rate=1.0)
    assert {r["text"] for r in kept.collect()} == {"b", "c"}


def test_ivf_topk_single_centroid_and_empty_corpus(spark):
    """nlist=1 (greatest() needs two args) and a 1-row corpus must assign
    trivially; an empty corpus yields an empty result, not a parse error."""
    one = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = [r["vec_id"] for r in similarity.ivf_topk(one, [1.0, 0.0], k=2, nlist=1, nprobe=1).collect()]
    assert got == [1, 2]
    single = one.limit(1)
    assert [r["vec_id"] for r in similarity.ivf_topk(single, [1.0, 0.0], k=1, nlist=16).collect()] == [1]
    empty = one.limit(0)
    assert similarity.ivf_topk(empty, [1.0, 0.0], k=1).count() == 0


def test_rhp_ann_probe_hamming_two_probes_wider(emb):
    """probe_hamming=2 must actually probe all Hamming<=2 buckets (it was
    silently clamped to 1): candidate recall is monotone in the probe
    distance, and at distance n_planes every vector is scored (== exact)."""
    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    dim = len(q)
    n0 = similarity.rhp_ann_topk(emb, q, dim, k=10**9, n_planes=6, probe_hamming=0).count()
    n1 = similarity.rhp_ann_topk(emb, q, dim, k=10**9, n_planes=6, probe_hamming=1).count()
    n2 = similarity.rhp_ann_topk(emb, q, dim, k=10**9, n_planes=6, probe_hamming=2).count()
    nall = similarity.rhp_ann_topk(emb, q, dim, k=10**9, n_planes=6, probe_hamming=6).count()
    assert n0 <= n1 <= n2 <= nall
    assert n2 > n1 or n1 == nall  # distance-2 buckets genuinely probed
    assert nall == emb.count()


def test_gopher_rules_hand_computed(spark):
    """One document per rule, thresholds chosen so exactly that rule fires:
    min/max word count, mean word length, symbol ratio, ellipsis lines,
    bullet lines, alpha-word fraction, required stopwords — plus a clean
    pass and the empty-document edge."""
    from eth_indexer_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, "the cat sat mat"),                                   # pass
            (2, "the"),                                               # min_words
            (3, "the aa bb cc dd ee ff gg hh ii jj kk ll"),           # max_words
            (4, "a b c the"),                                         # mean len low
            (5, "the cat ### sat"),                                   # symbols
            (6, "the cat sat...\nand dog ran..."),                    # ellipsis lines
            (7, "- the cat\n- and dog\nplain line here"),             # bullet lines
            (8, "the 123 456 789"),                                   # alpha words
            (9, "cat dog sat mat"),                                   # stopwords
            (10, ""),                                                 # empty
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality.gopher_rules(
            df, "text", "doc_id",
            min_words=3, max_words=12,
            min_mean_word_len=2.0, max_mean_word_len=5.0,
            max_symbol_ratio=0.4,
            max_bullet_line_frac=0.5, max_ellipsis_line_frac=0.5,
            min_alpha_word_frac=0.6,
            required_stopwords=("the", "and"), min_required_stopwords=1,
        ).collect()
    }
    assert {k for k, r in out.items() if r["keep"]} == {1}
    assert out[1]["mean_word_len"] == 3.0
    assert out[2]["n_words"] == 1
    assert out[3]["n_words"] == 13
    assert out[4]["mean_word_len"] == 1.5
    assert out[5]["symbol_ratio"] == 0.75
    assert out[6]["ellipsis_line_frac"] == 1.0
    assert out[6]["symbol_ratio"] == 0.3333  # two '...' over six words: passes
    assert out[7]["bullet_line_frac"] == 0.6667
    assert out[8]["alpha_word_frac"] == 0.25
    assert out[9]["n_req_stopwords"] == 0
    assert out[10]["n_words"] == 0 and not out[10]["keep"]


def test_gopher_stopwords_match_through_punctuation(spark):
    """Stopwords carrying adjacent punctuation or case ('The,' '"the"'
    'AND...') still count: matching is on lowercased word cores with
    non-alphanumeric edges stripped, so real punctuated prose is not
    rejected by a rule stricter than Gopher's."""
    from eth_indexer_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, 'The, cat sat.'),          # 'The,' → core 'the'
            (2, '"the" cat (and) dog.'),   # quoted / parenthesized
            (3, 'AND... then cat ran'),    # case + ellipsis suffix
            (4, 'cat dog mat sat'),        # genuinely no stopwords
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_req_stopwords"]
        for r in quality.gopher_rules(
            df, "text", "doc_id",
            required_stopwords=("the", "and"), min_required_stopwords=1,
        ).collect()
    }
    assert out == {1: 1, 2: 2, 3: 1, 4: 0}


def test_c4_line_filter_hand_computed(spark):
    """Line rules: terminal punctuation, >=3 words, no 'javascript';
    doc rules: >=3 surviving lines, no 'lorem ipsum', no '{'."""
    from eth_indexer_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, "This is good.\nbad line\nAlso quite good!\nIs it ok?\nShort."),
            (2, "Enable javascript to view.\nThe second line stays.\n"
                "And the third line stays.\nFourth good line here."),
            (3, "One good line here.\nTwo good lines here."),
            (4, "Contains lorem ipsum filler.\nGood line number two.\n"
                "Good line number three."),
            (5, "var x = {.\nGood line two here.\nGood line three here."),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality.c4_line_filter(df, "text", "doc_id").collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["clean_text"] == "This is good.\nAlso quite good!\nIs it ok?"
    assert out[1]["n_lines_kept"] == 3
    assert out[2]["n_lines_kept"] == 3
    assert "javascript" not in out[2]["clean_text"]


def test_cluster_representatives_hand_computed(spark):
    """Argmax-quality doc per cluster, ties to the smallest id; singleton
    clusters keep themselves."""
    from eth_indexer_spark.operators import dedup

    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)], "doc long, cluster long"
    )
    sc = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (4, 0.7), (5, 0.2)],
        "doc long, quality double",
    )
    out = {
        r["cluster"]: (r["keep_id"], r["best_score"], r["n_members"])
        for r in dedup.cluster_representatives(cl, sc, "quality").collect()
    }
    assert out == {1: (2, 0.9, 2), 3: (3, 0.7, 2), 5: (5, 0.2, 1)}


def test_contamination_report_hand_computed(spark):
    """Overlap fractions over DISTINCT 4-grams: doc 1 has 5 grams of which
    exactly one is the planted bench gram; doc 2 has zero hits; a 3-word
    doc has no 4-grams and reports zeros instead of vanishing."""
    from eth_indexer_spark.operators import decontam

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "x y z alpha beta gamma delta q"),   # 5 distinct 4-grams, 1 hit
            (2, "totally unrelated words here now"),  # 2 grams, 0 hits
            (3, "too short doc"),                     # no 4-grams at all
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontam.contamination_report(
            docs, bench, "text", "doc_id", k=4
        ).collect()
    }
    assert (out[1]["n_grams"], out[1]["n_hit_grams"], out[1]["overlap_frac"],
            out[1]["contaminated"]) == (5, 1, 0.2, True)
    assert (out[2]["n_grams"], out[2]["n_hit_grams"], out[2]["contaminated"]) == (2, 0, False)
    assert (out[3]["n_grams"], out[3]["n_hit_grams"], out[3]["overlap_frac"],
            out[3]["contaminated"]) == (0, 0, 0.0, False)
    # flags agree with the binary form
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.contamination_flags(docs, bench, "text", "doc_id", k=4).collect()
    }
    assert {k: r["contaminated"] for k, r in out.items()} == flags


def test_temperature_mix_matches_python_model_exactly(spark):
    """The kept set is pinned BIT-EXACTLY against a sequential Python model
    replicating the water-filling rate derivation and the md5 bucket
    threshold (the DSIR convention for driver-side float literals). Skewed
    sources: alpha=0.5 up-weights the small source's keep RATE above the
    large one's; alpha=1 keeps natural proportions (uniform rate)."""
    import hashlib

    from eth_indexer_spark.operators.sampling import temperature_mix

    rows = [(i, "big" if i < 1800 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    def model(alpha, target, buckets=10_000):
        counts = {"big": 1800, "small": 200}
        total = 2000
        weights = {g: (counts[g] / total) ** alpha for g in counts}
        budget = target * total
        rates, remaining = {}, dict(weights)
        while remaining:
            z = sum(remaining[g] for g in sorted(remaining))
            capped = {g for g in remaining if budget * remaining[g] / z >= counts[g]}
            if not capped:
                for g in remaining:
                    rates[g] = (budget * remaining[g] / z) / counts[g]
                break
            for g in sorted(capped):
                rates[g] = 1.0
                budget -= counts[g]
                del remaining[g]
        # the operator's quantization-zero-drop clamp (rates below
        # 1/buckets would round to threshold 0)
        rates = {g: max(r, 1.0 / buckets) if r > 0.0 else r for g, r in rates.items()}
        kept = set()
        for i, src in rows:
            b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % buckets
            if b < int(round(rates[src] * buckets)):
                kept.add(i)
        return rates, kept

    # (0.0, 0.0001) exercises the clamp: big's water-filled rate is
    # 0.1/1800 ≈ 5.6e-5 < 1/buckets — unclamped it would quantize to 0
    for alpha, target in ((0.5, 0.5), (1.0, 0.5), (0.0, 0.3), (0.3, 1.0), (0.0, 0.0001)):
        rates, expect = model(alpha, target)
        got = {
            r["doc_id"]
            for r in temperature_mix(
                df, "doc_id", "src", alpha=alpha, target_fraction=target
            ).collect()
        }
        assert got == expect, (alpha, target)

    # alpha=0.5 boosts the small source's keep rate above the big one's
    rates_half, _ = model(0.5, 0.5)
    assert rates_half["small"] > rates_half["big"]
    # alpha=1 → natural proportions → equal rates
    rates_nat, _ = model(1.0, 0.5)
    assert abs(rates_nat["small"] - rates_nat["big"]) < 1e-12
    # target_fraction=1 with alpha<1 saturates the small source at 1.0
    rates_full, kept_full = model(0.3, 1.0)
    assert rates_full["small"] == 1.0
    assert {i for i, s in rows if s == "small"} <= kept_full


def test_cluster_representatives_tolerates_missing_scores(spark):
    """Members absent from the scores frame still count in n_members and
    rank below every scored member; a fully-unscored cluster keeps its
    min-id member (best_score NULL) instead of vanishing — dropping every
    copy of a dup family because quality was computed on a filtered subset
    would be silent data loss."""
    from eth_indexer_spark.operators import dedup

    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc long, cluster long"
    )
    sc = spark.createDataFrame([(1, 0.5)], "doc long, quality double")
    out = {
        r["cluster"]: (r["keep_id"], r["best_score"], r["n_members"])
        for r in dedup.cluster_representatives(cl, sc, "quality").collect()
    }
    assert out == {1: (1, 0.5, 2), 3: (3, None, 2)}


def test_cluster_representatives_collapses_duplicate_scores(spark):
    """Duplicate score rows per doc (re-scored doc, unsynchronized union)
    must not fan out the join: n_members stays the true member count and
    the winner is judged on max(score) per doc, not per duplicate row."""
    from eth_indexer_spark.operators import dedup

    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc long, cluster long"
    )
    sc = spark.createDataFrame(
        # doc 1 scored twice (0.2 then 0.9); doc 2 once at 0.5
        [(1, 0.2), (1, 0.9), (2, 0.5), (3, 0.1), (4, 0.7)],
        "doc long, quality double",
    )
    out = {
        r["cluster"]: (r["keep_id"], r["best_score"], r["n_members"])
        for r in dedup.cluster_representatives(cl, sc, "quality").collect()
    }
    assert out == {1: (1, 0.9, 2), 3: (4, 0.7, 2)}


def test_c4_line_filter_empty_terminal_punct_disables_rule(spark):
    """terminal_punct=() means 'rule disabled', not 'drop everything'."""
    from eth_indexer_spark.operators import quality

    df = spark.createDataFrame(
        [(1, "one two three\nfour five six\nseven eight nine")],
        "doc_id long, text string",
    )
    out = quality.c4_line_filter(df, "text", "doc_id", terminal_punct=()).collect()
    assert len(out) == 1 and out[0]["n_lines_kept"] == 3


def test_temperature_mix_rejects_null_groups(spark):
    """NULL-source rows would be silently deleted by the threshold chain;
    the operator must fail loudly instead."""
    import pytest

    from eth_indexer_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "doc_id long, src string"
    )
    with pytest.raises(ValueError, match="NULL"):
        temperature_mix(df, "doc_id", "src", alpha=0.5, target_fraction=1.0)


def test_temperature_mix_enforces_group_cardinality(spark):
    """The low-cardinality contract is enforced, not advisory: a
    high-cardinality group column (e.g. a domain hash) raises instead of
    collecting an unbounded per-group count map onto the driver."""
    import pytest

    from eth_indexer_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(30)], "doc_id long, src string"
    )
    with pytest.raises(ValueError, match="distinct values"):
        temperature_mix(df, "doc_id", "src", alpha=0.5, max_groups=2)
    # at-the-bound passes (3 groups, max_groups=3)
    assert temperature_mix(df, "doc_id", "src", alpha=0.5, max_groups=3).count() > 0


def test_temperature_mix_clamps_quantization_zero_drop(spark):
    """A group whose water-filled rate quantizes below 0.5/buckets must NOT
    be silently dropped entirely (weighted_mix threshold 0): the rate is
    clamped to the smallest representable threshold 1/buckets. alpha=0 with
    a skewed corpus drives the BIG group's rate to ~0.026 < 0.05 at
    buckets=10 — pre-clamp it would vanish."""
    from eth_indexer_spark.operators.sampling import temperature_mix

    rows = [(i, "big" if i < 95 else "tiny") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    kept = temperature_mix(
        df, "doc_id", "src", alpha=0.0, target_fraction=0.05, buckets=10
    ).collect()
    assert any(r["src"] == "big" for r in kept), (
        "big group quantized to threshold 0 and was dropped entirely"
    )


def test_curation_funnel_is_monotone_and_consistent(spark):
    """The attrition funnel decreases monotonically stage to stage, starts
    at the full corpus, and its terminal count equals x_curation_v4's own
    row count (shared stage frames — the funnel can't drift from the
    pipeline it describes)."""
    from eth_indexer_spark.plans.extensions import x_curation_funnel, x_curation_v4
    from tests.conftest import SF_CORRECTNESS

    rows = {
        r["stage"]: r["n_docs"]
        for r in x_curation_funnel(spark, SF_CORRECTNESS).collect()
    }
    order = ["0_raw", "1_c4_clean", "2_gopher", "3_eval_heldout", "4_decontaminated"]
    assert list(rows) and set(rows) == set(order)
    counts = [rows[s] for s in order]
    assert counts[0] == 500
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert counts[-1] == x_curation_v4(spark, SF_CORRECTNESS).count()

def _brute_jaccard_pairs(rows, k=3, threshold=0.5):
    """Sequential model: exact Jaccard over distinct k-word shingles."""
    sets = {}
    for i, text in rows:
        words = text.split(" ")
        if len(words) >= k:
            sh = {" ".join(words[p : p + k]) for p in range(len(words) - k + 1)}
            if sh:
                sets[i] = sh
    out = set()
    ids = sorted(sets)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            i, j = ids[a], ids[b]
            inter = len(sets[i] & sets[j])
            if inter and inter / (len(sets[i]) + len(sets[j]) - inter) >= threshold:
                out.add((i, j))
    return out


def test_exact_jaccard_prefix_filter_matches_brute_force(spark):
    """The prefix-filtered exact form (SSJoin/AllPairs/PPJoin family) must
    return the bit-identical pair set of the definitional all-pairs model,
    on randomized corpora across thresholds — the prefix stage may only
    PRUNE candidates, never change the answer."""
    import random as _random

    rng = _random.Random(421)
    vocab = [f"w{v}" for v in range(40)]
    for trial, threshold in ((0, 0.3), (1, 0.5), (2, 0.8)):
        rows = []
        for i in range(60):
            n_words = rng.randint(3, 14)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))
        # plant a few mutated copies so high thresholds still have pairs
        for c in range(5):
            base = rows[c][1].split(" ")
            if len(base) > 3:
                base[rng.randrange(len(base))] = rng.choice(vocab)
            rows.append((100 + c, " ".join(base)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["i"], r["j"])
            for r in dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", k=3, threshold=threshold, exact=True
            ).collect()
        }
        want = _brute_jaccard_pairs(rows, k=3, threshold=threshold)
        assert got == want, (
            f"trial {trial} t={threshold}: +{sorted(got - want)[:5]} "
            f"-{sorted(want - got)[:5]}"
        )


def test_exact_jaccard_prefix_excludes_ubiquitous_shingles(spark):
    """The scale property that makes the exact form deployable: a shingle
    present in EVERY document sorts last in the global rarest-first order
    and never enters any prefix, so the candidate join sees zero pairs from
    it — where the naive inverted index emitted N(N-1)/2. Verified
    structurally (the prefix index contains no ubiquitous token) and
    behaviorally (results still exact on the adversarial corpus)."""
    corpus = _adversarial_corpus(spark)
    got = {
        (r["i"], r["j"])
        for r in dedup.ngram_jaccard_pairs(
            corpus, "text", "doc_id", k=3, threshold=0.5, exact=True
        ).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    assert got == _brute_jaccard_pairs(rows, k=3, threshold=0.5)
    assert {(2 * k, 2 * k + 1) for k in range(10)} <= got

    # structural: rebuild the prefix index exactly as the operator does and
    # assert the every-doc boilerplate shingles are in NO prefix (their
    # global df is the corpus size; prefixes keep the rarest ~half)
    sh = corpus.select(
        F.col("doc_id").alias("doc"), dedup.word_shingles("text", 3).alias("sh")
    ).select(
        "doc",
        F.size("sh").alias("n"),
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("s"),
    )
    n_docs = corpus.count()
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    pre = (
        sh.join(dfreq, "s")
        .groupBy("doc", "n")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("o"))
        .select(
            "doc",
            F.slice(
                "o",
                1,
                (F.col("n") - F.ceil(F.lit(0.5) * F.col("n") - F.lit(1e-9)) + 1).cast(
                    "int"
                ),
            ).alias("p"),
        )
        .select(F.explode("p").alias("ps"))
        .select(F.col("ps.df").alias("df"))
    )
    assert pre.filter(F.col("df") == n_docs).count() == 0
