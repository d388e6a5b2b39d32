"""Local clustering coefficient — duplicate-clique tightness per node.

The local clustering coefficient c(v) = 2*T(v) / (d(v)*(d(v)-1)) is
the fraction of a node's neighbor pairs that are themselves connected.
On a near-dup graph it separates CLIQUE members (c ≈ 1: a true
duplicate cluster, safe to collapse via x77's canonicalization) from
CHAIN links (c ≈ 0: transitive false-positive bridges that x24's
connected components would over-merge). Completes the per-node
toolbox next to x58 (raw triangle counts) and x65 (k-core).

Exactness: coefficients are the exact int64 rational pair
(coeff_num = 2*T, coeff_den = d*(d-1)) plus the truncating permille
rendering — no floats. Degree-1 nodes have den = 0 and render as
permille 0 by convention.

Scale shape: degrees are one keyed aggregate over edges; triangle
counts come from operators/graph_metrics.triangle_counts (degree-
oriented wedge join, O(E^1.5) wedge work, hub-safe); one left join
stitches them. Nothing touches more than the edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.graph_metrics import (
    triangle_counts,
)


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node clustering coefficient for an undirected simple graph.

    ``edges``: (id_a, id_b), deduplicated, id_a != id_b (orientation
    irrelevant). Output per node appearing in any edge: ``node``,
    ``degree``, ``n_triangles``, ``coeff_num`` (= 2*triangles),
    ``coeff_den`` (= degree*(degree-1)) and ``coeff_permille``
    (= 1000*coeff_num DIV coeff_den, 0 when degree < 2).
    """
    # The edge list appears twice in the degree union and again in
    # every wedge-join branch of triangle_counts — when it is itself
    # an expensive pipeline (x113 feeds the full MinHash-LSH pair
    # generator), the lineage would re-run per branch. Truncate once
    # (lazy localCheckpoint, the x58/x130 lesson).
    edges = materialize(edges, eager=False)
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges).select("node", "n_triangles")
    return (
        deg.join(tri, "node", "left")
        .withColumn(
            "n_triangles", F.coalesce("n_triangles", F.lit(0))
        )
        .withColumn("coeff_num", F.lit(2) * F.col("n_triangles"))
        .withColumn(
            "coeff_den", F.col("degree") * (F.col("degree") - F.lit(1))
        )
        .withColumn(
            "coeff_permille",
            F.when(F.col("coeff_den") > 0,
                   F.expr("(1000 * coeff_num) DIV coeff_den"))
            .otherwise(F.lit(0)),
        )
    )
