"""Simplified silhouette — clustering-quality score against centroid
distances, the missing evaluation for the label partition behind
x39's centroids and the k-means semantic-dedup family (x51/x87).

The classical silhouette needs all pairwise distances (O(n²) — a
non-starter at corpus scale). The SIMPLIFIED silhouette (Hruschka et
al.) replaces the mean intra/inter-cluster distances with distances
to CENTROIDS:

    a(i) = d(x_i, c_own),   b(i) = min over other clusters d(x_i, c)
    s(i) = (b − a) / max(a, b)            ∈ [−1, 1]

O(n·k) with the k-row centroid table broadcast — the standard
large-scale variant (it is what Spark MLlib's evaluator computes, via
a squared-distance expansion).

Determinism: centroids are ``vector_kernel.rounded_mean`` of the
quantized vectors, d is floor(sqrt(``int_sqdist``)) — IEEE sqrt of an
exact int64 is correctly rounded in both engines, and the squared sums
stay far inside 2⁵³ (quantized coords ≤ ~10³, so d² ≤ dims·4·10⁶) — so s in
ppm (1 000 000·(b−a) DIV max(a,b), 0 when both distances are 0)
hash-certifies.

Scale design: one explode + keyed agg builds the k×dims centroid
table (bounded by cluster count, broadcast back); the per-point scan
computes a and b in a single JVM-side higher-order-function pass over
the k candidate centroids — no shuffle of raw vectors beyond the
centroid aggregate, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    int_sqdist_sql,
    quantize_expr,
    rounded_mean,
)


def centroid_table(
    df: DataFrame, cluster_col: str, vec_col: str
) -> DataFrame:
    """(cluster, centroid): the integer-rounded mean of the quantized
    vectors per cluster."""
    q = df.select(
        F.col(cluster_col).alias("cluster"),
        quantize_expr(vec_col).alias("__v"),
    )
    return rounded_mean(q, "cluster", "__v").select(
        "cluster", F.col("cv").alias("centroid")
    )


def simplified_silhouette(
    df: DataFrame, id_col: str, cluster_col: str, vec_col: str
) -> DataFrame:
    """Per-cluster mean simplified silhouette of the ``cluster_col``
    partition over quantized ``vec_col`` embeddings.

    Output per cluster: n_points, s_ppm_sum, mean_s_ppm (truncating
    quotient). Clusters with a single cluster overall are undefined
    (b does not exist) — requires ≥ 2 clusters."""
    cents = centroid_table(df, cluster_col, vec_col)
    k = F.broadcast(
        cents.groupBy().agg(
            F.collect_list(F.struct("cluster", "centroid")).alias("__ks")
        )
    )
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__c"),
        quantize_expr(vec_col).alias("__v"),
    ).crossJoin(k)
    # one JVM-side pass over the k centroids: squared distance to each,
    # keep own (a2) and the min over others (b2)
    d2 = (
        "transform(__ks, kc -> struct(kc.cluster AS cl, "
        f"{int_sqdist_sql('__v', 'kc.centroid')} AS dd))"
    )
    scored = (
        pts.withColumn("__d2", F.expr(d2))
        .withColumn(
            "__a2",
            F.expr("filter(__d2, e -> e.cl = __c)[0].dd"),
        )
        .withColumn(
            "__b2",
            F.expr(
                "array_min(transform(filter(__d2, e -> e.cl != __c), "
                "e -> e.dd))"
            ),
        )
        .filter(F.col("__b2").isNotNull())
        .withColumn(
            "__a", F.expr("CAST(FLOOR(SQRT(CAST(__a2 AS DOUBLE))) AS BIGINT)")
        )
        .withColumn(
            "__b", F.expr("CAST(FLOOR(SQRT(CAST(__b2 AS DOUBLE))) AS BIGINT)")
        )
        .withColumn(
            "__s_ppm",
            F.when(
                F.greatest("__a", "__b") > 0,
                F.expr(
                    "1000000 * (__b - __a) DIV greatest(__a, __b)"
                ),
            ).otherwise(F.lit(0)),
        )
    )
    return (
        scored.groupBy(F.col("__c").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("__s_ppm").cast("long").alias("s_ppm_sum"),
        )
        .withColumn(
            "mean_s_ppm", F.expr("s_ppm_sum DIV n_points")
        )
    )
