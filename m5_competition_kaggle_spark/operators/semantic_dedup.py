"""SemDeDup-style semantic deduplication (Abbas et al., 2023 shape).

Pairwise embedding near-dup (``embedding_near_dup_pairs``, x12) bounds
candidates with LSH buckets; the SemDeDup alternative bounds them with
CLUSTER STRUCTURE instead: assign every vector to its nearest centroid,
then compare only within a cluster, keeping one canonical member per
near-dup neighborhood. At web scale the intra-cluster join touches
~N²/k pairs instead of N² and every stage is a keyed equi-join on the
cluster id — no all-pairs anywhere.

Determinism (the repo's oracle policy): centroids are the k lowest-id
vectors and assignment is ``ivf_topk``'s nearest-centroid dot rule
(``operators/vector_kernel.py``) — a production build swaps in
trained k-means centroids, identical plan. The keep rule is
deterministic too: a vector is DROPPED iff some LOWER-ID member of its
cluster has quantized dot ≥ threshold with it (the lowest such id is
reported as the canonical the row deduplicates to), so any engine
reproduces the identical keep set — certified end to end by x51.

Scale notes: the centroid table is bounded (broadcast); assignment is
one map-side pass; the intra-cluster self-join keys on cid, so skewed
(over-full) clusters are AQE skew-join territory — or pre-split by
recursing the assignment inside hot clusters, plan unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.vector_kernel import (
    int_dot,
    nearest_centroids,
    quantized,
    seed_codebook,
)


def auto_n_centroids(n_vectors: int) -> int:
    """k = ⌊√N⌋ (≥1): balances the two cost terms — assignment is N·k
    dots, intra-cluster pairs are ~N²/k — so total work grows as N^1.5
    instead of N² at any fixed k (the 10× probe that motivated this
    measured fixed-k=16 at ~10× wall-clock for 10× data). IEEE sqrt is
    correctly rounded on both engines, so ``floor(sqrt(N))`` is
    engine-portable for any feasible count (< 2^52). For strictly
    LINEAR scaling use ``semantic_dedup_lsh`` (occupancy-scaled
    buckets, constant occupancy ⇒ ~N pairs)."""
    import math

    return max(1, math.isqrt(max(0, n_vectors)))


def assign_clusters(
    vectors: DataFrame,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cid): nearest deterministic centroid per vector — the
    ``ivf_topk`` assignment stage exposed as its own operator.
    ``n_centroids=None`` auto-scales k with the corpus
    (:func:`auto_n_centroids`)."""
    if n_centroids is None:
        n_centroids = auto_n_centroids(vectors.count())
    qz = quantized(vectors, id_col, vec_col)
    return nearest_centroids(
        qz, seed_codebook(qz, n_centroids), "vid", "v", "dot"
    ).select("vid", "v", "cid")


def semantic_dedup(
    vectors: DataFrame,
    threshold_dot: int,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per vector: (vec_id, cid, keep, canonical_id).

    ``keep=0`` iff a lower-id vector in the SAME cluster has quantized
    dot ≥ ``threshold_dot``; ``canonical_id`` is the lowest such id
    (the member this row deduplicates to), or the vector's own id when
    kept. Downstream: ``filter(keep == 1)`` is the deduplicated corpus.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    # Both sides of the intra-cluster join and the final overlay consume
    # the assignment — materialize it so the centroid fan-out + rank runs
    # once, not three times (measured ~1.5x at sf0.1).
    assigned = materialize(
        assign_clusters(vectors, n_centroids, id_col, vec_col)
    )
    return _canonical_keep(assigned, threshold_dot, id_col)


def _canonical_keep(
    assigned: DataFrame, threshold_dot: int, id_col: str
) -> DataFrame:
    """The SemDeDup keep rule over any (vid, v, cid) partition: drop a
    vector iff a lower-id member of its cell covers it at quantized dot
    ≥ threshold; report the lowest such id as the canonical."""
    lo = assigned.select(
        F.col("cid"), F.col("vid").alias("lo_id"), F.col("v").alias("lo_v")
    )
    hi = assigned.select(
        F.col("cid"), F.col("vid").alias("hi_id"), F.col("v").alias("hi_v")
    )
    kills = (
        hi.join(lo, "cid")
        .filter(F.col("lo_id") < F.col("hi_id"))
        .withColumn("__dot", int_dot("lo_v", "hi_v"))
        .filter(F.col("__dot") >= threshold_dot)
        .groupBy("hi_id")  # hi_id is unique; cid rides along via assigned
        .agg(F.min("lo_id").alias("canonical_id"))
    )
    return (
        assigned.join(
            kills, assigned["vid"] == kills["hi_id"], "left"
        )
        .select(
            F.col("vid").alias(id_col),
            "cid",
            F.when(F.col("canonical_id").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
            F.coalesce(F.col("canonical_id"), F.col("vid")).alias(
                "canonical_id"
            ),
        )
    )


def semantic_dedup_lsh(
    vectors: DataFrame,
    threshold_dot: int,
    num_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LINEAR-scaling semantic dedup: cells are occupancy-scaled
    hyperplane LSH buckets (``similarity.auto_num_planes``) instead of
    centroid clusters — cell occupancy stays in a constant band as the
    corpus grows, so bucketing is one map-side pass (no N·k assignment
    dots) and intra-cell pairs grow ~N·occupancy. The trade vs
    ``semantic_dedup``: a near-dup pair straddling a hyperplane is
    missed by the single-table partition (recall < centroid clustering
    near cell edges) — same trade x12 makes, with the same answer
    (multiple tables) when recall matters more than a strict
    one-cell-per-vector partition. Keep rule and output schema are
    identical (cid = bucket id)."""
    from m5_competition_kaggle_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket_col,
        num_planes_for,
    )

    planes = hyperplanes(num_planes_for(vectors, num_planes), dim)
    assigned = quantized(vectors, id_col, vec_col).withColumn(
        "cid", lsh_bucket_col("v", planes)
    )
    return _canonical_keep(assigned, threshold_dot, id_col)
