"""Incremental IVF maintenance — the re-cluster decision. An IVF
codebook is trained once (x155's integer Lloyd) and then the corpus
keeps growing; the operational question is WHEN the codebook has
drifted enough to retrain. This operator assigns the NEW vectors to
the EXISTING lists and certifies the per-list growth and occupancy
skew that drive that decision — composing the trained-codebook
machinery (operators/kmeans.py) with the occupancy-health view
(x137's balance audit) into the maintenance loop's decision table.

Decision rule (all integer, disclosed thresholds):
- growth_permille = 1000·n_new div n_old per list (NULL when the list
  had no training vectors — an empty list is itself a retrain signal,
  surfaced via the flag, not a divide);
- occupancy_permille = 1000·(n_old + n_new)·n_lists div n_total —
  1000 means perfectly balanced; 2000 means the list holds twice its
  fair share;
- recluster = 1 when growth_permille > growth_thresh OR
  occupancy_permille > occ_thresh OR the list is empty-trained.

Scale: assignment is one broadcast(codebook) map-side argmin over the
new vectors (k rows broadcast, corpus never shuffles on anything but
its own aggregation key); the decision table is k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    nearest_centroids,
    quantized,
)


def list_growth(
    old_vectors: DataFrame,
    new_vectors: DataFrame,
    cent: DataFrame,
    growth_thresh: int = 1500,
    occ_thresh: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-list maintenance table under codebook ``cent`` (cid, cv —
    quantized): cid, n_old, n_new, growth_permille,
    occupancy_permille, recluster. Every codebook list emits a row
    even when nothing assigns to it."""

    def _counts(df: DataFrame, out: str) -> DataFrame:
        qz = quantized(df, id_col, vec_col)
        return (
            nearest_centroids(qz, cent, "vid", "v", "l2")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    lists = cent.select("cid")
    joined = (
        lists.join(_counts(old_vectors, "n_old"), "cid", "left")
        .join(_counts(new_vectors, "n_new"), "cid", "left")
        .select(
            "cid",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    total = F.broadcast(
        joined.agg(
            F.sum(F.col("n_old") + F.col("n_new")).alias("n_total"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    return (
        joined.crossJoin(total)
        .select(
            "cid",
            "n_old",
            "n_new",
            F.expr(
                "CASE WHEN n_old > 0 THEN 1000 * n_new DIV n_old END"
            ).alias("growth_permille"),
            F.expr(
                "CASE WHEN n_total > 0 THEN "
                "1000 * (n_old + n_new) * n_lists DIV n_total END"
            ).alias("occupancy_permille"),
            F.expr(
                f"CAST(n_old = 0 "
                f"OR (n_old > 0 AND 1000 * n_new DIV n_old"
                f" > {int(growth_thresh)}) "
                f"OR (n_total > 0 AND 1000 * (n_old + n_new) * n_lists"
                f" DIV n_total > {int(occ_thresh)}) AS BIGINT)"
            ).alias("recluster"),
        )
        .orderBy("cid")
    )
