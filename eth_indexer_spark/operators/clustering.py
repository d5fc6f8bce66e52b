"""Distributed k-means over embedding columns — the trainer that upgrades
:func:`eth_indexer_spark.operators.similarity.ivf_topk`'s deterministic
stand-in centroids to data-adaptive ones, and the semantic-clustering
primitive (topic bucketing, SemDeDup-style cluster-then-dedup) of an
LLM-data pipeline.

Design for 100 TB (Lloyd's, but every step distributed and bounded):

- **Assignment is a pure projection**: centroids are inlined as literals
  (k·dim doubles — constant in table size), so each iteration's assignment
  is one narrow whole-stage-codegen scan evaluating k squared-L2 distances
  per row. No join, no broadcast table, no shuffle on the corpus.
- **Means are one skinny groupBy per iteration**: posexplode the vector,
  groupBy (cluster, dimension) — map-side partial aggregation reduces each
  task to ≤ k·dim rows before the exchange, so the shuffle moves
  O(k·dim·tasks) rows regardless of corpus size. The k·dim sums collected
  to the driver are bounded control-flow reads (same policy as the IVF
  centroid probe).
- **Determinism**: per-dimension sums accumulate in DECIMAL (exact,
  order-independent — the repo-wide trick used by the ledger prefix sums),
  so centroids are bit-identical across runs, partitionings, and cluster
  layouts; Lloyd's from a deterministic init (the k lowest-id vectors,
  matching ``ivf_topk``) therefore converges to the same fixpoint
  everywhere. Ties in assignment pick the smallest centroid id.
- Empty clusters keep their previous centroid (no resampling — keeps the
  run deterministic; at k ≪ N this is the standard pragmatic choice).

The iteration count is a driver loop: ``max_iter`` jobs, each one scan +
one skinny shuffle. This is inherent to Lloyd's (each round depends on the
last) — the distributed work per round is what must scale, and does.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eth_indexer_spark.operators.similarity import _vec, cosine

# exact order-independent accumulation type for per-dimension sums:
# embeddings are O(1)-magnitude floats; 12 fractional digits is far below
# float32 input precision, 26 integral digits never overflows a realistic
# cluster mass (sum of < 1e26 unit-scale values)
_ACC = "decimal(38,12)"


def _dlit(x: float) -> str:
    """A float as an exact SQL DOUBLE literal (CAST of repr survives
    scientific notation; centroids are finite by construction)."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def _nearest_centroid(vec_name: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Argmin over literal centroids for the staged vector column
    ``vec_name``: least() on (dist, cid) structs — min distance, ties →
    smallest centroid id. Codegen'd, no shuffle. Assembled as ONE SQL
    string: the Column-API form cost k·dim driver py4j round trips PER
    ITERATION of Lloyd's (measured as the dominant share of kmeans_fit
    wall time — expression building, not the Spark jobs)."""
    terms = ", ".join(
        "named_struct('d', aggregate(zip_with({v}, array({arr}), "
        "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v), 'cid', {cid}L)".format(
            v=vec_name,
            arr=", ".join(_dlit(x) for x in cv),
            cid=int(cid),
        )
        for cid, cv in centroids
    )
    return F.expr(f"(least({terms})).cid")


def kmeans_fit(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> list[tuple[int, list[float]]]:
    """Train k centroids; returns ``[(cluster_id, centroid_vector), ...]``
    with cluster ids 0..k-1. Stops early at a centroid fixpoint."""
    seed_rows = (
        emb.orderBy(F.col(id_col))
        .limit(k)
        .select(_vec(vec_col).alias("v"))
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(seed_rows)}")
    centroids = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)]

    # persist the staged vectors ONCE: every Lloyd's iteration consumes the
    # same scan+cast lineage, and re-reading the corpus per round is the
    # classic iterative-ML waste (MEMORY_AND_DISK spills rather than
    # recomputes at 100 TB — the MLlib convention). Released on exit.
    from pyspark import StorageLevel

    staged = emb.select(_vec(vec_col).alias("__v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        for _ in range(max_iter):
            # staged vector column, then argmin, then a separate generator
            # projection: a generator (posexplode) in the same projection as
            # the struct-least argmin makes Spark's Generate rewrite drop
            # the struct field names (FIELD_NOT_FOUND on the getField)
            assigned = staged.select(
                _nearest_centroid("__v", centroids).alias("cluster"), "__v"
            ).select("cluster", F.posexplode("__v").alias("pos", "val"))
            sums = (
                assigned.groupBy("cluster", "pos")
                .agg(
                    F.sum(F.col("val").cast(_ACC)).alias("s"),
                    F.count(F.lit(1)).alias("c"),
                )
                .collect()
            )
            by_cluster: dict[int, dict[int, tuple[Decimal, int]]] = {}
            for r in sums:
                by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                    r["s"],
                    int(r["c"]),
                )
            new = []
            for cid, old in centroids:
                dims = by_cluster.get(cid)
                if not dims:  # empty cluster: keep previous centroid
                    new.append((cid, old))
                    continue
                new.append(
                    (cid, [float(dims[p][0] / dims[p][1]) for p in sorted(dims)])
                )
            if all(nv == ov for (_, nv), (_, ov) in zip(new, centroids)):
                centroids = new
                break
            centroids = new
    finally:
        staged.unpersist(blocking=False)
    return centroids


def kmeans_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) for every vector — one narrow scan, no shuffle."""
    return emb.select(F.col(id_col), _vec(vec_col).alias("__v")).select(
        id_col, _nearest_centroid("__v", centroids).alias("cluster")
    )


def kmeans(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> DataFrame:
    """Fit + assign: deterministic (id, cluster) labels for the corpus."""
    return kmeans_assign(
        emb, kmeans_fit(emb, k, id_col, vec_col, max_iter), id_col, vec_col
    )


def semantic_dup_pairs(
    emb: DataFrame,
    assignments: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs WITHIN k-means clusters only — the SemDeDup
    shape (Abbas et al. 2023): cluster first, then compare only within a
    cluster, turning the O(N²) all-pairs cosine into k disjoint O((N/k)²)
    problems. Pairs across cluster boundaries are deliberately invisible —
    at duplicate-grade thresholds near-dups land in the same cluster, and
    the recall loss at the margin is the price of the k× cost cut (the
    exhaustive alternative stays available as
    ``similarity.cosine_pairs``).

    Scale: one equi-join on the cluster id; per-cluster work is bounded by
    choosing k ∝ N / target_cluster_size (SemDeDup uses clusters of ~10⁴-10⁵
    docs at web scale), so no task ever sees more than
    target_cluster_size² candidate pairs.

    Returns (i, j) with i < j and cosine ≥ threshold.
    """
    from eth_indexer_spark.operators.similarity import dot, norm

    unit = (
        emb.join(assignments, id_col)
        .withColumn("__norm", norm(_vec(vec_col)))  # hoisted: a per-element
        # norm inside the transform lambda would be O(dim²) per row
        .filter(F.col("__norm") > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col("cluster"),
            F.transform(_vec(vec_col), lambda x: x / F.col("__norm")).alias("u"),
        )
    )
    a = unit.select(
        F.col("id").alias("i"), F.col("cluster"), F.col("u").alias("ua")
    )
    b = unit.select(
        F.col("id").alias("j"), F.col("cluster"), F.col("u").alias("ub")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("i") < F.col("j"))
        .filter(dot(F.col("ua"), F.col("ub")) >= threshold)
        .select("i", "j")
    )


def derive_k(n: int, target_cluster_size: int = 2000, k_max: int = 512) -> int:
    """Cluster count for a corpus of ``n`` vectors: ``ceil(n / target)``,
    floored at 2 (a single cluster degenerates to all-pairs) and capped at
    ``k_max`` (the literal-centroid expression's practical bound — past it,
    assignment wants the ANN form, not a bigger expression tree)."""
    return max(2, min(k_max, -(-n // target_cluster_size)))


def semantic_dedup(
    emb: DataFrame,
    k: int | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    target_cluster_size: int = 2000,
    k_max: int = 512,
) -> DataFrame:
    """The full SemDeDup pipeline: k-means partition → within-cluster
    cosine pairs → connected-components labels. Every vector gets a
    ``sem_cluster`` id (= the minimum id of its semantic-duplicate group;
    itself when it has no near-dup) — keep one row per ``sem_cluster`` to
    dedup. Composes the three scale-safe stages end-to-end: shuffle-free
    assignment, cluster-local pair join, O(log² n)-round clustering.

    ``k=None`` (the default) derives ``k ≈ N / target_cluster_size`` from
    one bounded count — the SemDeDup recipe (cluster COUNT grows with the
    corpus, cluster SIZE stays fixed). A pinned k is quadratic at scale:
    the within-cluster pair join does O(N²/k) work, so ×4 data at fixed k
    costs ×16 (measured on the sf1→sf10 decade before auto-k landed:
    ×16.02 wall). With k ∝ N the pair stage is O(N · target_cluster_size)
    — linear per decade — while assignment's O(N·k) term stays an order of
    magnitude below it until k reaches ``k_max`` (the literal-centroid
    expression's practical bound); past that rung, assignment itself wants
    the ANN form (bucketed RHP-LSH / IVF probe, similarity.py) rather than
    a bigger expression tree."""
    from eth_indexer_spark.operators._persist import persist_bounded
    from eth_indexer_spark.operators.dedup import dedup_clusters

    if k is None:
        # the auto-k count is an EXTRA full action over the upstream
        # embedding lineage, which kmeans and the pair join re-materialize
        # again — for derived inputs (x_semantic_dedup's union-of-perturbed)
        # that recomputes the whole pipeline once more. Persist first, so
        # count/fit/pairs all share one materialization (the repo-wide
        # persist_bounded discipline; released when the site is reused).
        emb = persist_bounded("clustering.semantic_dedup.emb", emb)
        # bounded control-flow read: one count aggregate, O(1) result
        k = derive_k(emb.count(), target_cluster_size, k_max)
    assignments = kmeans(emb, k, id_col, vec_col, max_iter)
    pairs = semantic_dup_pairs(emb, assignments, threshold, id_col, vec_col)
    return dedup_clusters(
        emb.select(id_col), pairs, id_col
    ).withColumnRenamed("cluster", "sem_cluster")


def ivf_topk_trained(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF search over TRAINED coarse centroids (vs ``ivf_topk``'s
    lowest-id stand-ins): k-means partitions the corpus, the query probes
    the ``nprobe`` nearest centroids by squared-L2 (the assignment metric),
    and an exact cosine top-k runs over the probed lists only. At scale the
    cluster id is a partition column and a probe reads nprobe/nlist of the
    table."""
    centroids = kmeans_fit(emb, nlist, id_col, vec_col, max_iter)
    probe_ids = [
        cid
        for cid, cv in sorted(
            centroids,
            key=lambda c: (
                sum((x - y) * (x - y) for x, y in zip(c[1], query_vec)),
                c[0],
            ),
        )[:nprobe]
    ]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = (
        emb.withColumn("__v", _vec(vec_col))
        .withColumn("__cid", _nearest_centroid("__v", centroids))
        .filter(F.col("__cid").isin(probe_ids))
        .select(F.col(id_col), cosine(F.col("__v"), q).alias("sim"))
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("sim"), id_col).limit(k)
