"""Graph metrics over pair graphs — triangle counting.

Completes the graph toolbox next to ``operators/graph.py``'s connected
components (cluster formation) and integer PageRank (centrality):
triangle counts are the standard local-density signal — in a near-dup
pair graph a high triangle count around a document means its duplicate
neighborhood is a tight clique (one canonical survivor suffices),
while triangle-free stars suggest chained false positives worth
re-verifying. Per-node counts also give clustering coefficients
downstream (triangles / deg·(deg−1)/2).

The algorithm is the classic ORIENTED wedge join (node-iterator with
degree ordering): orient each undirected edge from its lower-degree
endpoint to the higher (ties by id), join oriented wedges a→b, a→c
(b < c by the same order) against the edge set. Orientation bounds
every node's out-degree by O(√E) on any graph, so wedge count — the
shuffle that matters — is O(E^1.5) worst case instead of Σdeg² (which
a hub node makes quadratic). All joins are keyed equi-joins; the
degree table is itself a keyed aggregate. Deterministic throughout,
so the per-node counts are exactly reproducible in SQL (x58).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def triangle_counts(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """(node, n_triangles) for every node on at least one triangle.

    ``pairs`` is an undirected edge list (one row per edge, any
    orientation, self-loops and duplicates tolerated — normalized
    here). Nodes on no triangle are absent; left-join and coalesce to
    0 against your node table for dense output.
    """
    # The edge list feeds multiple consumers (degree scans, the
    # orientation join, the closing join). localCheckpoint — not just
    # persist — both runs the upstream pair pipeline once AND truncates
    # the logical plan to a leaf: with an expensive lineage (MinHash
    # verify joins) inlined 4×, Catalyst re-analysis dominated wall
    # clock (measured 33 s planning-bound on a 28-edge graph; ~3 s
    # after the cut). Same pattern as graph.py's CC loop.
    e = materialize(
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low-rank → high-rank by (degree, id); bounds out-degree
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    # wedges src→x, src→y (x < y); the closing edge {x, y} with x < y
    # is BY CONSTRUCTION a row of the normalized edge list e — no
    # re-orientation or distinct union needed, just one keyed join
    # against the cached edges.
    w1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(F.col("x") < F.col("y"))
    tris = wedges.join(
        e,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
    ).select("src", "x", "y")
    per_node = (
        tris.select(F.col("src").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # Materialize the (small: one row per triangle-bearing node) result
    # eagerly so `oriented` can be unpersisted HERE — otherwise every
    # call in a long-lived session pins an edge-sized cache entry until
    # the session dies. The fills behind `e`/`per_node` are released
    # at the next query entry (see ``blocks.materialize``).
    per_node = materialize(per_node)
    oriented.unpersist()
    return per_node


def kcore_peel(
    pairs: DataFrame,
    k: int = 2,
    rounds: int | None = 4,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """k-core peeling: iteratively delete nodes with degree < k (and
    their edges); return the surviving (node, deg) table.

    k-core membership separates dense duplicate communities from the
    noise fringe of a near-dup pair graph: a node in the 2-core sits on
    a cycle of corroborating pair evidence, while degree-1 leaves are
    single uncorroborated LSH hits. Degeneracy ordering (repeated
    peeling) is also the standard preprocessing step before clique-ish
    mining (it bounds x58's oriented out-degree).

    Fixed ``rounds`` keeps the operator a finite, engine-independent
    expression (each round is an unrollable keyed aggregate + semi-join,
    so an ANSI-SQL oracle reproduces it exactly — x65).
    ``rounds=None`` is the production mode: peel to the TRUE fixpoint,
    detecting convergence from the edge count the round's checkpoint
    materializes anyway (a 1-row count action per round, the same
    convergence shape as ``operators/graph.py``'s CC loop; rounds are
    bounded by the peel depth, itself at most the degeneracy ordering's
    length). Per-round cost either way: one keyed degree aggregate and
    two semi-joins — no all-pairs, no driver-side data.
    """
    e = materialize(
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    n_edges = e.count() if rounds is None else None
    done = 0
    while True:
        if rounds is not None and done >= rounds:
            break
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e = materialize(
            e.join(keep.withColumnRenamed("n", "u"), "u", "leftsemi")
            .join(keep.withColumnRenamed("n", "v"), "v", "leftsemi")
            .select("u", "v")
        )
        done += 1
        if rounds is None:
            n_now = e.count()
            if n_now == n_edges:  # no edge left the graph: fixpoint
                break
            n_edges = n_now
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
