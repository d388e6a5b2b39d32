"""Integer Lloyd k-means over quantized embeddings — the trained
upgrade of the IVF codebook. ``similarity.ivf_topk`` partitions by a
deterministic seed rule (the k lowest-id vectors) and its docstring
promises "a production build would swap the seed rule for trained
k-means centroids — the plan is identical"; this module is that
training loop, built hash-certifiable:

- init: centroids = the k lowest-id vectors (the certified IVF seed
  rule, so round 0 of this operator IS the current codebook);
- assign: nearest centroid by exact int64 squared L2 over the
  quantized vectors (``operators/vector_kernel.py``) — a broadcast of
  k rows against the corpus, one keyed argmin window, exactly the
  ivf_topk assignment shape;
- update: the per-dimension integer-ROUNDED mean shared with x142
  (``vector_kernel.rounded_mean``), via posexplode + one keyed
  aggregate — shuffle volume k·d rows, corpus-independent;
- repeat for a FIXED number of rounds (the x41 PageRank / x65 k-core
  unrolled-iteration precedent): both engines walk the identical
  integer trajectory, so assignments, cluster sizes and inertia all
  hash-certify.

Scale: each round is one broadcast join + one keyed reduce; rounds
are a compile-time constant. Empty clusters KEEP their previous
centroid (documented, matches the oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.similarity import ivf_search
from m5_competition_kaggle_spark.operators.vector_kernel import (
    nearest_centroids,
    quantized,
    rounded_mean,
    seed_codebook,
)


def train_centroids(
    vectors: DataFrame,
    k: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained (cid, cv) codebook after ``rounds`` Lloyd
    iterations from the IVF seed rule — the table ``kmeans_lloyd``
    summarizes and ``ivf_topk_trained`` probes."""
    if k < 1 or rounds < 0:
        raise ValueError("need k >= 1 and rounds >= 0")
    qz = quantized(vectors, id_col, vec_col)
    cent = seed_codebook(qz, k)
    for _ in range(int(rounds)):
        fresh = rounded_mean(
            nearest_centroids(qz, cent, "vid", "v", "l2"), "cid", "v"
        )
        # empty clusters keep their previous centroid
        cent = fresh.unionByName(
            cent.join(fresh.select("cid"), "cid", "left_anti")
        )
        # lineage doubles per round; rounds are few and the centroid
        # table is k rows, so a local materialization keeps the plan
        # flat without a cluster-wide barrier
        cent = materialize(cent, eager=False)
    return cent


def ivf_topk_trained(
    vectors: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe under an EXPLICIT (cid, cv) codebook — the trained
    twin of ``similarity.ivf_topk`` (which hard-wires the seed rule).
    Assignment and probing use the k-means metric (squared L2);
    candidates rank by the same dot as the seed-rule path, so recall
    under the trained codebook is directly comparable to x116's."""
    return ivf_search(
        vectors, queries, cent, "l2", k, nprobe, id_col, vec_col
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``rounds`` Lloyd iterations from the IVF seed codebook.
    Returns the final assignment summary per cluster: cid, n_vectors,
    inertia (Σ dist² to the final centroid, exact int64), and
    centroid_l1 (Σ|component|, a compact certifiable checksum of the
    trained centroid itself)."""
    cent = train_centroids(
        vectors, k=k, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    final = nearest_centroids(
        quantized(vectors, id_col, vec_col), cent, "vid", "v", "l2",
        score="dist2",
    )
    per_cluster = final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist2").alias("inertia"),
    )
    checksum = cent.select(
        "cid",
        F.expr(
            "aggregate(cv, 0L, (acc, x) -> acc + abs(x))"
        ).alias("centroid_l1"),
    )
    return per_cluster.join(checksum, "cid", "inner").select(
        "cid", "n_vectors", "inertia", "centroid_l1"
    )
