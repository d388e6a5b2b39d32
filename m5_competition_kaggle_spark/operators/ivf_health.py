"""IVF codebook health — assignment balance and list coherence.

The recall (x116) and nDCG (x131) certificates grade the IVF index's
OUTPUT; this grades the index itself, before any query runs:

- **balance**: the share of vectors each inverted list holds. IVF
  probe cost is proportional to the probed lists' sizes, so one hot
  centroid turns nprobe/n_centroids of the corpus into a much larger
  effective scan — the same hot-key risk `operators/skew.py` treats
  for joins, surfaced as an exact share permille per list (the x132
  HHI reading applies verbatim to these shares).
- **coherence**: the mean quantized dot of each list's members to
  their own centroid — how tight the list is, the integer analogue
  of k-means inertia per cluster.

Assignment is ``ivf_topk``'s seed codebook and nearest-centroid dot
rule (``operators/vector_kernel.py``), so the health table describes
EXACTLY the index the certified queries probe.

Scale design: the centroid table broadcasts; assignment is one
map-side pass + per-vector argmax window keyed by vector (never
global); the health table is one keyed aggregation, n_centroids
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    nearest_centroids,
    quantized,
    seed_codebook,
)


def ivf_assignments(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, cid, cdot): every vector's inverted-list assignment
    under ``ivf_topk``'s deterministic centroid rule, with the
    quantized dot to its own centroid."""
    qz = quantized(vectors, id_col, vec_col)
    return nearest_centroids(
        qz, seed_codebook(qz, n_centroids), "vid", "v", "dot", score="cdot"
    ).select("vid", "cid", "cdot")


def ivf_health(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-inverted-list health: cid, n_assigned, share_permille
    (of all vectors), sum_dot (exact Σ own-centroid dot) and
    mean_dot_q (its truncating per-member quotient)."""
    asgn = ivf_assignments(vectors, n_centroids, id_col, vec_col)
    tot = asgn.agg(F.count(F.lit(1)).alias("__n"))
    return (
        asgn.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.sum("cdot").alias("sum_dot"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_assigned",
            F.expr("(1000 * n_assigned) DIV __n").alias(
                "share_permille"
            ),
            "sum_dot",
            F.expr("sum_dot DIV n_assigned").alias("mean_dot_q"),
        )
    )
