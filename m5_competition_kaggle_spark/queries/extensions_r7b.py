"""Round-7 queue, second batch — locally certified in round 6,
promotion-queued behind extensions_r7 for the r7 driver window.

Import-only composition of certified operators plus pure DataFrame
expressions — no banked closure is touched.

- x97 contrastive hard-negative mining: per query embedding, the
  highest-dot same-label and different-label neighbors from the exact
  top-50 shortlist (x9's block-matmul operator) with the margin —
  the curation step that builds triplet/contrastive training sets for
  retriever finetuning. Production swaps the exact shortlist for the
  ANN stack (x10/x23/x72) without changing the downstream shape; the
  certified semantics are shortlist-relative, which is exactly what
  production computes too.
- x98 near-dup-aware (leakage-free) dataset split: split by DEDUP
  CLUSTER instead of by document, so near-duplicate pairs can never
  straddle train/test — certified by counting straddling pairs (0 by
  construction) against the naive per-document split's count on the
  same corpus (the decontamination-across-splits guarantee every
  eval pipeline needs).
- x100 RFM segmentation: recency/frequency/monetary quintile scores
  per user — the classic behavioral segmentation, integer end-to-end.
- x101 CUSUM drift detection: the cumulative-deviation change-point
  statistic via the running-sum-minus-running-min identity
  C_t = P_t − min_{s≤t} P_s (no recurrence needed — two cumulative
  windows over ONE keyed sort), top-5 drift points per series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.functions.text import h64
from m5_competition_kaggle_spark.operators.similarity import (
    brute_force_topk,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

NANOS_PER_DAY = 86_400_000_000_000

# ----------------------------------------------------------------- queries


def x97_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector (every 10th): hardest positive (highest-dot
    same-label) and hardest negative (highest-dot different-label)
    from the exact top-50 shortlist, plus the contrastive margin.
    NULL where the shortlist holds no representative of that side."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    top = brute_force_topk(emb, queries, k=50)
    lab = emb.select("vec_id", "label")
    t = (
        top.join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "query_id",
        )
    )

    def best(side):
        return (
            t.filter(side)
            .groupBy("query_id")
            .agg(
                F.min(
                    F.struct("rank", F.col("neighbor_id"), F.col("dot"))
                ).alias("__b")
            )
        )

    hp = best(F.col("n_label") == F.col("q_label")).select(
        "query_id",
        F.col("__b.neighbor_id").alias("hp_id"),
        F.col("__b.dot").alias("hp_dot"),
    )
    hn = best(F.col("n_label") != F.col("q_label")).select(
        "query_id",
        F.col("__b.neighbor_id").alias("hn_id"),
        F.col("__b.dot").alias("hn_dot"),
    )
    base = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    return (
        base.join(hp, "query_id", "left")
        .join(hn, "query_id", "left")
        .select(
            "query_id",
            "q_label",
            "hp_id",
            "hp_dot",
            "hn_id",
            "hn_dot",
            (F.col("hp_dot") - F.col("hn_dot")).alias("margin"),
        )
        .orderBy("query_id")
    )


def x98_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/10/10 split: hash the dedup CLUSTER id, not
    the doc id, so verified near-duplicate pairs cannot straddle
    splits. Output certifies the guarantee: straddling-pair count is
    ZERO for the cluster split while the naive per-doc split leaks."""
    from m5_competition_kaggle_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from m5_competition_kaggle_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    # r14: the verified-pair table feeds BOTH the cluster loop and the
    # straddle audit — materialize it once (the x29 reuse pattern)
    # instead of re-running the whole shingle →
    # minhash → band self-join pipeline for the leak join.
    pairs = materialize(minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b"))
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    assigned = docs.select("doc_id").join(clusters, "doc_id", "left")
    assigned = assigned.withColumn(
        "cid", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )

    def bucket(col):
        return F.pmod(
            h64(F.concat(F.lit("split:"), col.cast("string"))), F.lit(100)
        )

    # One row per doc, 3 consumers (sizes + both pair flanks) — cheap
    # to recompute but cheaper still to cut here: without it each flank
    # re-runs the docs∪clusters join and double bucket hash.
    splits = materialize(assigned.select(
        "doc_id",
        bucket(F.col("cid")).alias("cb"),
        bucket(F.col("doc_id")).alias("nb"),
    ))
    sized = splits.agg(
        F.sum(F.when(F.col("cb") < 80, 1).otherwise(0)).alias("n_train"),
        F.sum(
            F.when((F.col("cb") >= 80) & (F.col("cb") < 90), 1).otherwise(0)
        ).alias("n_val"),
        F.sum(F.when(F.col("cb") >= 90, 1).otherwise(0)).alias("n_test"),
    )
    pa = splits.select(
        F.col("doc_id").alias("id_a"),
        F.col("cb").alias("cb_a"),
        F.col("nb").alias("nb_a"),
    )
    pb = splits.select(
        F.col("doc_id").alias("id_b"),
        F.col("cb").alias("cb_b"),
        F.col("nb").alias("nb_b"),
    )

    def band(col):
        # 0=train, 1=val, 2=test
        return (
            F.when(col < 80, F.lit(0))
            .when(col < 90, F.lit(1))
            .otherwise(F.lit(2))
        )

    leak = (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(
                    band(F.col("cb_a")) != band(F.col("cb_b")), 1
                ).otherwise(0)
            ).alias("leaky_cluster"),
            F.sum(
                F.when(
                    band(F.col("nb_a")) != band(F.col("nb_b")), 1
                ).otherwise(0)
            ).alias("leaky_naive"),
        )
    )
    return sized.join(F.broadcast(leak)).select(
        "n_train", "n_val", "n_test", "n_pairs",
        "leaky_cluster", "leaky_naive",
    )


def x100_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral segmentation: per purchasing user the recency
    (last purchase day) / frequency (count) / monetary (milli-value
    sum) quintile scores, rolled up to segment populations.

    Quintile scores are VALUE-THRESHOLD based: the 20/40/60/80-permille
    cut values come from the certified distributed rank rule
    (``operators/quantiles.py`` semantics — per-value counts + the
    two-phase prefix scan, NO single-partition sort, unlike a global
    ntile which the plan audit rightly flags); score = 1 + #cuts
    strictly below the user's value. Ties at a cut share a score — the
    standard threshold-quantile semantics.

    r14 shape: the three metric distributions are MELTED into one
    (metric, value) stream, so the per-value counts ride ONE keyed
    exchange and ONE two-phase prefix scan (ordered by (metric,
    value); per-metric cumulative = global cumulative − the previous
    metrics' totals, recovered from the same scan). All 12 cut values
    condense to a single broadcast row of three arrays; scoring is one
    map-side array filter per metric — the old per-metric ×4
    cut-fanout + full re-grouping of the user table (three extra
    user-keyed shuffles) is gone, as are the three separate eager
    prefix-scan pipelines (12 events scans → 2)."""
    from m5_competition_kaggle_spark.operators.prefix import (
        global_running_sum,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    rfm = ev.groupBy("user_id").agg(
        F.max(F.expr(f"ts_nanos DIV {NANOS_PER_DAY}")).alias("r_day"),
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(
            F.floor(F.col("value") * F.lit(1000)).cast("long")
        ).alias("m_milli"),
    )

    melt = rfm.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("m"), F.col("r_day").alias("v")
                ),
                F.struct(
                    F.lit("f").alias("m"), F.col("f_cnt").alias("v")
                ),
                F.struct(
                    F.lit("m").alias("m"), F.col("m_milli").alias("v")
                ),
            )
        ).alias("e")
    ).select("e.m", "e.v")
    counts = melt.groupBy("m", "v").agg(F.count(F.lit(1)).alias("__c"))
    # ONE two-phase prefix scan over all three distributions; the cum
    # table hangs off a checkpoint, so the branches below
    # re-read the materialization, not the events pipeline.
    cum = global_running_sum(counts, "__c", ("m", "v"), "__cum")
    maxes = cum.groupBy("m").agg(F.max("__cum").alias("__hi"))
    # offset(metric) = global cumulative through the preceding metrics
    # = max __hi among metrics ordered before it (3×3 broadcast join).
    a, b = maxes.alias("a"), maxes.alias("b")
    offs = (
        a.join(F.broadcast(b), F.col("b.m") < F.col("a.m"), "left")
        .groupBy(F.col("a.m").alias("m"), F.col("a.__hi").alias("__hi"))
        .agg(F.coalesce(F.max("b.__hi"), F.lit(0)).alias("__off"))
    )
    ranks = offs.select(
        "m",
        "__off",
        F.explode(
            F.array(*[F.lit(p) for p in (200, 400, 600, 800)])
        ).alias("permille"),
        (F.col("__hi") - F.col("__off")).alias("__n"),
    ).select(
        "m",
        "__off",
        "permille",
        F.expr("(permille * __n + 999) div 1000")
        .cast("long")
        .alias("__r"),
    )
    # Keyed by (m, permille), NOT (m, rank): two permilles can land on
    # the same rank for tiny N, and each must contribute its own cut
    # row (the score counts cuts as a multiset).
    cuts = (
        cum.join(
            F.broadcast(ranks),
            (cum["m"] == ranks["m"])
            & (F.col("__cum") - F.col("__off") >= F.col("__r")),
        )
        .groupBy(cum["m"], "permille")
        .agg(F.min("v").alias("__cut"))
    )
    cuts_row = cuts.agg(
        *[
            F.collect_list(
                F.when(F.col("m") == tag, F.col("__cut"))
            ).alias(f"__cuts_{tag}")
            for tag in ("r", "f", "m")
        ]
    )

    def score(metric: str, tag: str):
        return F.lit(1) + F.size(
            F.filter(
                F.col(f"__cuts_{tag}"),
                lambda c: F.col(metric) > c,
            )
        ).cast("long")

    return (
        rfm.join(F.broadcast(cuts_row))
        .withColumn(
            "segment",
            (
                F.lit(100) * score("r_day", "r")
                + F.lit(10) * score("f_cnt", "f")
                + score("m_milli", "m")
            ).cast("long"),
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("segment")
    )


def x101_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per event type: deviations
    d_t = n·v_t − S (zero-sum by construction, ×n so it stays
    integer), upward drift C_t = P_t − min_{s≤t} P_s via two
    cumulative windows over ONE keyed sort — no recurrence operator
    needed. Output: the top-5 drift peaks per series."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("ts_nanos").alias("tsn"),
        F.floor(F.col("value") * F.lit(1000)).cast("long").alias("v"),
    )
    w_all = Window.partitionBy("event_type")
    d = ev.withColumn("__n", F.count(F.lit(1)).over(w_all)).withColumn(
        "__s", F.sum("v").over(w_all)
    ).withColumn("__d", F.col("__n") * F.col("v") - F.col("__s"))
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("tsn", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # classical CUSUM recurrence C_t = max(0, C_{t-1} + d_t) expands to
    # C_t = P_t − min(0, min_{s≤t} P_s): the EMPTY prefix's 0 belongs in
    # the min (caught by the brute-force property test).
    c = d.withColumn("__p", F.sum("__d").over(w_ord)).withColumn(
        "__m", F.least(F.lit(0), F.min(F.col("__p")).over(w_ord))
    ).withColumn("cusum", F.col("__p") - F.col("__m"))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("cusum").desc(), F.col("event_id")
    )
    return (
        c.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 5)
        .select("event_type", "event_id", "tsn", "cusum", "rank")
        .orderBy("event_type", "rank")
    )


def s16_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM against a FIXED reference level (mu = 100.0 in
    milli-units) through the shared pandas kernel
    (``streaming/cusum_state.py``): the batch grouped-map certified
    here is kernel-identical to the ``applyInPandasWithState`` form
    whose per-key state is TWO int64s — the bounded-state online
    monitor x101's self-centered batch statistic cannot be. Top-5
    drift peaks per series."""
    from m5_competition_kaggle_spark.streaming.cusum_state import (
        batch_cusum,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        "event_id",
        F.col("ts_nanos").alias("tsn"),
        F.floor(F.col("value") * F.lit(1000)).cast("long").alias("v"),
    )
    c = batch_cusum(ev, "event_type", "v", mu=100_000)
    w = Window.partitionBy("group").orderBy(
        F.col("cusum").desc(), F.col("event_id")
    )
    return (
        c.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("group", "event_id", "tsn", "cusum", "rank")
        .orderBy("group", "rank")
    )


QUERIES = {
    "x97_hard_negatives": x97_hard_negatives,
    "x98_leakage_free_split": x98_leakage_free_split,
    "x100_rfm_segments": x100_rfm_segments,
    "x101_cusum_drift": x101_cusum_drift,
    "s16_stream_cusum": s16_stream_cusum,
}

# ----------------------------------------------------------------- oracles

_H64 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"

ORACLES: dict[str, str] = {}

ORACLES["x97_hard_negatives"] = """
WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qe
           FROM embeddings WHERE vec_id % 10 = 0),
scored AS (
  SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
         e.label AS n_label,
         CAST(list_sum(list_transform(
             generate_series(1, len(e.embedding)),
             i -> CAST(round(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT)
                * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000)
                       AS BIGINT))) AS BIGINT) AS dot
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS r
  FROM scored),
short AS (SELECT * FROM ranked WHERE r <= 50),
hp AS (SELECT query_id, neighbor_id AS hp_id, dot AS hp_dot
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY r) AS rr
             FROM short WHERE n_label = q_label)
       WHERE rr = 1),
hn AS (SELECT query_id, neighbor_id AS hn_id, dot AS hn_dot
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY r) AS rr
             FROM short WHERE n_label <> q_label)
       WHERE rr = 1)
SELECT q.query_id, q.q_label, hp.hp_id, hp.hp_dot, hn.hn_id,
       hn.hn_dot, hp.hp_dot - hn.hn_dot AS margin
FROM q
LEFT JOIN hp ON hp.query_id = q.query_id
LEFT JOIN hn ON hn.query_id = q.query_id
ORDER BY q.query_id
"""


def _leakage_oracle() -> str:
    from m5_competition_kaggle_spark.queries.extensions import (
        _minhash_verified_ctes,
    )

    cb = _H64.format(s="'split:' || CAST(cid AS VARCHAR)")
    nb = _H64.format(s="'split:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE {_minhash_verified_ctes(16, 4)},
vpairs AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
          UNION SELECT id_b, id_a FROM vpairs),
reach(node, reached) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached
),
comp AS (SELECT node, min(reached) AS cluster_id FROM reach GROUP BY node),
asg AS (SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cid
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
sp AS (SELECT doc_id,
              {cb} % 100 AS cb,
              {nb} % 100 AS nb
       FROM asg),
sized AS (SELECT
    CAST(sum(CASE WHEN cb < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
    CAST(sum(CASE WHEN cb >= 80 AND cb < 90 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_val,
    CAST(sum(CASE WHEN cb >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM sp),
sbands AS (SELECT doc_id,
                  CASE WHEN cb < 80 THEN 0 WHEN cb < 90 THEN 1 ELSE 2
                      END AS cband,
                  CASE WHEN nb < 80 THEN 0 WHEN nb < 90 THEN 1 ELSE 2
                      END AS nband
           FROM sp),
leak AS (SELECT
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CASE WHEN a.cband <> b.cband THEN 1 ELSE 0 END) AS BIGINT)
        AS leaky_cluster,
    CAST(sum(CASE WHEN a.nband <> b.nband THEN 1 ELSE 0 END) AS BIGINT)
        AS leaky_naive
  FROM vpairs p
  JOIN sbands a ON a.doc_id = p.id_a
  JOIN sbands b ON b.doc_id = p.id_b)
SELECT s.n_train, s.n_val, s.n_test, l.n_pairs,
       l.leaky_cluster, l.leaky_naive
FROM sized s CROSS JOIN leak l
"""


ORACLES["x98_leakage_free_split"] = _leakage_oracle()

def _rfm_oracle() -> str:
    def metric_ctes(metric: str, tag: str) -> str:
        return f"""
{tag}c AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM (SELECT {metric} AS v, count(*) AS c
                 FROM p GROUP BY 1)),
{tag}cut AS (SELECT q.pm, min({tag}c.v) AS cut
             FROM {tag}c, (SELECT unnest([200, 400, 600, 800]) AS pm) q,
                  nn
             WHERE {tag}c.cum >= (q.pm * nn.n + 999) // 1000
             GROUP BY q.pm),
{tag}s AS (SELECT p.user_id,
                  CAST(1 + sum(CASE WHEN p.{metric} > t.cut
                               THEN 1 ELSE 0 END) AS BIGINT) AS {tag}_s
           FROM p CROSS JOIN {tag}cut t GROUP BY 1)"""

    return f"""
WITH p AS (SELECT user_id,
                  max(epoch_ns(ts) // {NANOS_PER_DAY}) AS r_day,
                  CAST(count(*) AS BIGINT) AS f_cnt,
                  CAST(sum(CAST(FLOOR(value * 1000) AS BIGINT))
                       AS BIGINT) AS m_milli
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
{metric_ctes('r_day', 'r')},
{metric_ctes('f_cnt', 'f')},
{metric_ctes('m_milli', 'm')}
SELECT CAST(100 * rs.r_s + 10 * fs.f_s + ms.m_s AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_users
FROM p
JOIN rs ON rs.user_id = p.user_id
JOIN fs ON fs.user_id = p.user_id
JOIN ms ON ms.user_id = p.user_id
GROUP BY 1 ORDER BY segment
"""


ORACLES["x100_rfm_segments"] = _rfm_oracle()

ORACLES["s16_stream_cusum"] = """
WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS v
            FROM events),
c1 AS (SELECT *, CAST(sum(v - 100000) OVER w AS BIGINT) AS p
       FROM ev
       WINDOW w AS (PARTITION BY event_type ORDER BY tsn, event_id
                    ROWS UNBOUNDED PRECEDING)),
c AS (SELECT *, least(0, CAST(min(p) OVER w2 AS BIGINT)) AS m
      FROM c1
      WINDOW w2 AS (PARTITION BY event_type ORDER BY tsn, event_id
                    ROWS UNBOUNDED PRECEDING))
SELECT event_type AS "group", event_id, tsn, p - m AS cusum, rank
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY p - m DESC, event_id) AS rank
      FROM c)
WHERE rank <= 5
ORDER BY "group", rank
"""

ORACLES["x101_cusum_drift"] = """
WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS v
            FROM events),
g AS (SELECT *,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                 AS n,
             CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT)
                 AS s
      FROM ev),
d AS (SELECT *, n * v - s AS dd FROM g),
c1 AS (SELECT *, CAST(sum(dd) OVER w AS BIGINT) AS p
       FROM d
       WINDOW w AS (PARTITION BY event_type ORDER BY tsn, event_id
                    ROWS UNBOUNDED PRECEDING)),
c AS (SELECT *, least(0, CAST(min(p) OVER w2 AS BIGINT)) AS m
      FROM c1
      WINDOW w2 AS (PARTITION BY event_type ORDER BY tsn, event_id
                    ROWS UNBOUNDED PRECEDING))
SELECT event_type, event_id, tsn, p - m AS cusum, rank
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY p - m DESC, event_id) AS rank
      FROM c)
WHERE rank <= 5
ORDER BY event_type, rank
"""
