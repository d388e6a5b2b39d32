"""Partition modularity over a similarity graph — all-integer.

Newman modularity Q of a node partition measures whether edges
concentrate INSIDE the parts more than a degree-preserving random
graph would predict: Q = sum_c [ L_c/m - (d_c/(2m))^2 ] with L_c the
intra-part edge count, d_c the part's degree sum, m the total edges.
Applied with parts = document SOURCE over the MinHash-LSH near-dup
graph, it answers the corpus-curation question "is duplication mostly
WITHIN crawls or ACROSS them?" — high Q means per-source dedup
suffices; low Q means cross-source dedup (x60's incremental machinery)
is mandatory. Complements x66 (source-pair Jaccard matrix) with a
single calibrated-against-chance number.

Exactness: scaled by 4m^2, Q becomes pure int64 —
q_term_4m2 = 4*m*L_c - d_c^2 and Q = sum(q_term_4m2) / (4m^2) — so the
oracle hash-certifies every term with zero float involvement (x108).
Magnitudes: d_c <= 2m, so |q_term| <= 4m^2; safe below m ~ 1.5e9 edges
per partition label — far beyond any bucketed near-dup output.

Scale shape: degrees are one keyed aggregate over the edge list; parts
attach with two broadcast-or-keyed joins; everything aggregates per
part. No all-pairs anything — the edge list arrives already bounded by
the LSH banding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def partition_modularity(
    edges: DataFrame,
    assign: DataFrame,
    node_col: str = "node",
    part_col: str = "part",
) -> DataFrame:
    """Per-part modularity terms for an undirected simple graph.

    ``edges``: (id_a, id_b) with id_a < id_b, no duplicates. ``assign``:
    (node, part) — every edge endpoint must be assigned (inner joins
    drop unassigned endpoints' edges deliberately: an unlabeled node
    has no part to credit).

    Output per part: n_intra (L_c), d_sum (d_c), m (total edges), and
    q_term_4m2 = 4*m*L_c - d_c^2. Parts with assigned nodes but no
    incident edges are absent (their q_term is 0 anyway).
    """
    a_part = assign.select(
        F.col(node_col).alias("id_a"), F.col(part_col).alias("part_a")
    )
    b_part = assign.select(
        F.col(node_col).alias("id_b"), F.col(part_col).alias("part_b")
    )
    tagged = edges.join(a_part, "id_a").join(b_part, "id_b")
    # tagged feeds four branches (m, intra, both degree unions);
    # when edges is an expensive pipeline (x108's MinHash-LSH pairs)
    # each branch would re-run it — truncate once (the x58/x113
    # lesson; lazy localCheckpoint).
    tagged = materialize(tagged, eager=False)

    m_row = tagged.agg(F.count(F.lit(1)).alias("m"))

    intra = (
        tagged.filter(F.col("part_a") == F.col("part_b"))
        .groupBy(F.col("part_a").alias("part"))
        .agg(F.count(F.lit(1)).alias("n_intra"))
    )
    # degree sum per part: each edge contributes 1 to each endpoint
    deg = (
        tagged.select(F.col("part_a").alias("part"))
        .unionAll(tagged.select(F.col("part_b").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("d_sum"))
    )
    return (
        deg.join(intra, "part", "left")
        .withColumn("n_intra", F.coalesce("n_intra", F.lit(0)))
        .crossJoin(F.broadcast(m_row))
        .withColumn(
            "q_term_4m2",
            F.lit(4) * F.col("m") * F.col("n_intra")
            - F.col("d_sum") * F.col("d_sum"),
        )
    )
