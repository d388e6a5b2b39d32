"""Round-6 extension queries, second batch — fills the final spare
head-50 slots (head = x47 + 31 queued r5 entries + 12 r6b + these 6).

New modules only (operators/robust.py, anomaly.py, fusion.py,
centroid.py) plus import-only composition of already-certified
operators (skew.salted_left_join, asof.asof_join_backward) — nothing
here edits any banked query's hash closure.

- x84 median/MAD robust outlier profile — the 50%-breakdown-point
  outlier rule next to x83's winsorized mean, exact order statistics.
- x85 rolling z-score anomaly flags — division-free integer variance
  test over a trailing window (monitoring primitive).
- x86 reciprocal-rank fusion of BM25 and TF rankings — the hybrid
  retrieval merge production RAG stacks run on x63-style output.
- x87 nearest-centroid confusion matrix over quantized embeddings —
  the label-quality / embedding-drift check.
- x88 salted JOIN certified bit-exact vs the plain join — the x68
  algebraic-equivalence certificate extended from aggregation to the
  hot-key join rewrite.
- x89 last-touch attribution — backward as-of with tolerance composed
  from the certified x13 operator (purchase ← most recent view within
  a day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.anomaly import (
    rolling_zscore_flags,
)
from m5_competition_kaggle_spark.operators.asof import asof_join_backward
from m5_competition_kaggle_spark.operators.centroid import (
    centroid_confusion,
)
from m5_competition_kaggle_spark.operators.fusion import rrf_fuse
from m5_competition_kaggle_spark.operators.retrieval import bm25_topk
from m5_competition_kaggle_spark.operators.robust import mad_outlier_stats
from m5_competition_kaggle_spark.operators.skew import salted_left_join
from m5_competition_kaggle_spark.sources.catalog import load_table

DAY_NANOS = 86_400_000_000_000

# ----------------------------------------------------------------- queries


def x84_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier profile
    (``operators/robust.py``): exact median + MAD from two window
    ranks over ONE group shuffle; outliers = |v − med| > 3·MAD, all
    milli-quantized int64."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000)).cast("long").alias("v"),
        "event_id",
    )
    return mad_outlier_stats(ev, "event_type", "v", "event_id", c=3).orderBy(
        "event_type"
    )


def x85_window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows more than 3σ from their own trailing-50 window mean
    (``operators/anomaly.py``): the division-free integer z-test
    (n·v − S)² > 9·(n·SS − S²), one window sort per event type,
    anomaly cannot mask itself (frame excludes the current row)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("ts_nanos").alias("tsn"),
        F.floor(F.col("value") * F.lit(1000)).cast("long").alias("v"),
    )
    flagged = rolling_zscore_flags(
        ev, "event_type", ("tsn", "event_id"), "v",
        window_rows=50, min_n=10, z=3,
    )
    return (
        flagged.filter(F.col("is_anomaly"))
        .drop("is_anomaly")
        .orderBy("event_id")
    )


def x86_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval merge (``operators/fusion.py``): RRF-fuse the
    BM25 top-20 (x63's operator) with a raw-TF top-20 per term, keep
    the fused top-10. Both input rankings are bounded top-k tables, so
    fusion cost is O(ranking rows) — the corpus is only touched by the
    two scorers themselves."""
    docs = load_table(spark, sf_dir, "documents")
    # The BM25 ranking (<= 100 rows) feeds both the term spine (the
    # broadcast build pruning the TF scorer) and the fuse union; the
    # eager checkpoint runs the corpus-wide BM25 pipeline once
    # (guide §5 caching-when-reused; x154/x166 convention). coalesce(1):
    # the table is constant-bounded (n_terms*k), so one block instead
    # of one per shuffle partition (r15 checkpoint-site audit).
    bm = materialize(bm25_topk(
        docs, "doc_id", "text", n_terms=5, min_token_len=4, k=20
    ).select("term", "doc_id", "rank").coalesce(1))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    terms = bm.select("term").distinct()
    tf = (
        tok.join(F.broadcast(terms), tok["token"] == terms["term"])
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id")
    )
    tfr = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("term", "doc_id", "rank")
    )
    return rrf_fuse(
        [bm, tfr], "term", "doc_id", "rank", k=60, scale=1_000_000,
        top_n=10,
    ).orderBy("term", "fused_rank")


def x87_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix over quantized embeddings
    (``operators/centroid.py``): integer label prototypes (the x39
    statistic) broadcast against each vector's components, score =
    dot DIV n_label, argmax ties to the smaller label."""
    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_confusion(emb).orderBy("true_label", "pred_label")


def x88_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key JOIN certified bit-exact against the plain join
    (``operators/skew.py::salted_left_join``): the right side
    replicates ×8 salts, left rows scatter deterministically, the
    shuffle key becomes (orderkey, salt) — and the revenue-by-priority
    aggregate proves the rewrite changes the partitioning, never the
    answer (the x68 certificate, extended to joins)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.floor(F.col("l_extendedprice") * F.lit(1_000_000))
        .cast("long")
        .alias("price_micro"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_left_join(
        li, orders, on=["o_orderkey"], salt_buckets=8
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("price_micro").alias("sum_price_micro"),
        )
        .orderBy("o_orderpriority")
    )


def x89_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributed to the same
    user's most recent view within one day — the certified backward
    as-of operator (x13) with the matched timestamp carried as a value
    column so tolerance is a post-filter, no second scan."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_nanos").alias("tsn")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts_nanos").alias("tsn"))
        .agg(F.min("event_id").alias("view_event_id"))
        .select(
            "user_id",
            "tsn",
            F.col("tsn").alias("view_tsn"),
            "view_event_id",
        )
    )
    att = asof_join_backward(
        purch, views, on=["user_id"], ts_col="tsn",
        value_cols=["view_tsn", "view_event_id"],
    )
    within = F.col("view_tsn") >= F.col("tsn") - F.lit(DAY_NANOS)
    return att.select(
        "event_id",
        "user_id",
        "tsn",
        F.when(within, F.col("view_event_id")).alias("attributed_view"),
        F.when(within, F.col("view_tsn")).alias("attributed_tsn"),
    ).orderBy("event_id")


QUERIES = {
    "x84_mad_outliers": x84_mad_outliers,
    "x85_window_anomaly": x85_window_anomaly,
    "x86_rrf_fusion": x86_rrf_fusion,
    "x87_centroid_classify": x87_centroid_classify,
    "x88_salted_join": x88_salted_join,
    "x89_attribution": x89_attribution,
}

# ----------------------------------------------------------------- oracles

ORACLES: dict[str, str] = {}

ORACLES["x84_mad_outliers"] = """
WITH ev AS (SELECT event_type,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS v,
                   event_id
            FROM events),
r1 AS (SELECT event_type, v, event_id,
              CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY v, event_id) AS BIGINT) AS r,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n
       FROM ev),
m1 AS (SELECT *, max(CASE WHEN r = (n + 1) // 2 THEN v END)
                     OVER (PARTITION BY event_type) AS med
       FROM r1),
d1 AS (SELECT *, abs(v - med) AS d FROM m1),
r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                          ORDER BY d, event_id) AS BIGINT) AS r2
       FROM d1),
m2 AS (SELECT *, max(CASE WHEN r2 = (n + 1) // 2 THEN d END)
                     OVER (PARTITION BY event_type) AS mad
       FROM r2)
SELECT event_type, max(n) AS n, max(med) AS med, max(mad) AS mad,
       CAST(sum(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM m2 GROUP BY event_type ORDER BY event_type
"""

ORACLES["x85_window_anomaly"] = """
WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS v
            FROM events),
w AS (SELECT *,
             CAST(count(v) OVER f AS BIGINT) AS win_n,
             CAST(sum(v) OVER f AS BIGINT) AS win_sum,
             CAST(sum(v * v) OVER f AS BIGINT) AS ss
      FROM ev
      WINDOW f AS (PARTITION BY event_type ORDER BY tsn, event_id
                   ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
SELECT event_type, event_id, tsn, v, win_n, win_sum
FROM w
WHERE win_n >= 10
  AND (win_n * v - win_sum) * (win_n * v - win_sum)
      > 9 * (win_n * ss - win_sum * win_sum)
ORDER BY event_id
"""

ORACLES["x86_rrf_fusion"] = r"""
WITH tok AS (SELECT doc_id, unnest(str_split_regex(trim(text), '\s+'))
                 AS token
             FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
q AS (SELECT token AS term, df FROM dfreq WHERE len(token) >= 4
      ORDER BY df DESC, token ASC LIMIT 5),
scored AS (
    SELECT q.term, tf.doc_id,
           ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
             AS score
    FROM tf JOIN q ON tf.token = q.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats s),
bmr AS (
    SELECT term, doc_id, rank FROM (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term
                                  ORDER BY score DESC, doc_id ASC)
                   AS rank
        FROM scored)
    WHERE rank <= 20),
tfr AS (
    SELECT term, doc_id, rank FROM (
        SELECT q.term, tf.doc_id,
               row_number() OVER (PARTITION BY q.term
                                  ORDER BY tf.tf DESC, tf.doc_id ASC)
                   AS rank
        FROM tf JOIN q ON tf.token = q.term)
    WHERE rank <= 20),
contrib AS (
    SELECT term, doc_id, 1000000 // (60 + rank) AS c FROM bmr
    UNION ALL
    SELECT term, doc_id, 1000000 // (60 + rank) AS c FROM tfr),
fused AS (SELECT term, doc_id, CAST(sum(c) AS BIGINT) AS rrf
          FROM contrib GROUP BY 1, 2),
fr AS (SELECT *, row_number() OVER (PARTITION BY term
                    ORDER BY rrf DESC, doc_id ASC) AS fused_rank
       FROM fused)
SELECT term, doc_id, rrf, fused_rank
FROM fr WHERE fused_rank <= 10 ORDER BY term, fused_rank
"""

ORACLES["x87_centroid_classify"] = """
WITH q AS (SELECT vec_id, label AS true_label,
                  unnest(generate_series(1, len(embedding))) AS i,
                  embedding
           FROM embeddings),
comp AS (SELECT vec_id, true_label, CAST(i - 1 AS BIGINT) AS pos,
                CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                     AS BIGINT) AS qv
         FROM q),
cent AS (SELECT true_label AS cand, pos,
                CAST(sum(qv) AS BIGINT) AS sum_q,
                CAST(count(*) AS BIGINT) AS n_l
         FROM comp GROUP BY 1, 2),
sc AS (SELECT c.vec_id, c.true_label, ct.cand,
              CAST(sum(c.qv * ct.sum_q) AS BIGINT) AS dot,
              max(ct.n_l) AS n_l
       FROM comp c JOIN cent ct ON ct.pos = c.pos
       GROUP BY 1, 2, 3),
best AS (SELECT vec_id, true_label, cand AS pred_label
         FROM (SELECT *,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY (dot // n_l) DESC, cand ASC) AS r
               FROM sc)
         WHERE r = 1)
SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
FROM best GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["x88_salted_join"] = """
SELECT o.o_orderpriority AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(FLOOR(l.l_extendedprice * 1000000) AS BIGINT))
            AS BIGINT) AS sum_price_micro
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1 ORDER BY 1
"""

ORACLES["x89_attribution"] = f"""
WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, epoch_ns(ts) AS tsn,
             min(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
cand AS (SELECT p.event_id, max(v.tsn) AS m
         FROM p JOIN v ON v.user_id = p.user_id AND v.tsn <= p.tsn
         GROUP BY 1)
SELECT p.event_id AS event_id, p.user_id AS user_id, p.tsn AS tsn,
       CASE WHEN c.m >= p.tsn - {DAY_NANOS} THEN v.view_event_id END
           AS attributed_view,
       CASE WHEN c.m >= p.tsn - {DAY_NANOS} THEN c.m END
           AS attributed_tsn
FROM p
LEFT JOIN cand c ON c.event_id = p.event_id
LEFT JOIN v ON v.user_id = p.user_id AND v.tsn = c.m
ORDER BY p.event_id
"""
