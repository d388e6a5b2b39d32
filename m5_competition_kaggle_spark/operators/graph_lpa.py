"""Semi-supervised label propagation over a pair graph.

Completes the graph toolbox (components = x24, PageRank = x41,
triangles = x58, k-core = x65) with the community/classification
member: a small seeded fraction of nodes carries labels; unlabeled
nodes repeatedly adopt the majority label among their labeled
neighbors. The near-dup use case: hand-label a few documents per
cluster family and propagate through the similarity graph to label
the rest — the cheap alternative to classifying every document.

Determinism (the certifiable variant of LPA, whose textbook form is
order-dependent): updates are SYNCHRONOUS rounds; a node adopts the
label with the highest neighbor count, ties to the SMALLEST label;
seeds are clamped (never change). Fixed round count keeps the operator
a finite expression an unrolled SQL oracle replays exactly (x105) —
the same fixed-rounds contract as x41's PageRank and x65's k-core.

Per round: one keyed join (edges × current labels) + one two-key count
aggregate + one per-node argmax — all map-side-combinable shuffles,
lineage cut by localCheckpoint per round (graph.py's loop pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def label_propagation(
    pairs: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    a_col: str = "id_a",
    b_col: str = "id_b",
    id_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """(node, label) for every node that holds a label after ``rounds``
    synchronous propagation rounds. ``seeds`` carries (id_col,
    label_col); seed labels are clamped."""
    edges = materialize(
        pairs.select(
            F.col(a_col).alias("src"), F.col(b_col).alias("dst")
        )
        .unionAll(
            pairs.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst")
            )
        )
        .distinct()
    )
    seed = materialize(seeds.select(
        F.col(id_col).alias("node"), F.col(label_col).alias("label")
    ))
    labels = seed
    for _ in range(int(rounds)):
        votes = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("label")
        )
        adopted = (
            votes.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("node", "label")
        )
        # seeds are clamped: their row wins over any adopted label
        labels = materialize(
            seed.unionByName(
                adopted.join(seed.select("node"), "node", "left_anti")
            )
        )
    return labels
