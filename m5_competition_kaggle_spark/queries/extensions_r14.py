"""Round-14 queue — STAGED UNREGISTERED, two rounds ahead (the r12
and r13 windows are planned; see queries/__init__.py). Locally
certified by ``tests/test_r14_queue.py`` with the same Spark-vs-DuckDB
differential as ``scripts/check_oracle.py``.

- x171 Markov sequence surprisal (``operators/markov.py``): every
  user timeline scored against the corpus first-order event-type
  transition model in exact micro-nat integers — the top-15 users
  whose event grammar the population finds most surprising. The
  sequence-level anomaly screen beside the per-event z-score flags
  (x66 family) and the transition-count matrix (g18).
- x172 per-brand sales Gini (``operators/gini.py``): exact
  tie-invariant Gini of per-part unit-sales concentration within each
  brand, zero-sales parts included — the Lorenz complement to the
  HHI screen (x49 family). Grouped-value-cell closed form, so the
  rank sums certify as integers.
- x173 cross-covariance lead–lag: x170's exact-integer autocovariance
  extended ACROSS series — daily unit-value series of every event-type
  pair at lags −7..+7, peak-normalized permille, with the peak lag
  marked. Detects which streams lead and which follow (the
  cross-series dependency x107's per-day mutual information cannot
  localize in time).
- x174 per-document KL novelty: exact micro-nat
  KL(doc unigram ‖ corpus unigram) via the quantized-ln precedent —
  the top-15 most out-of-distribution documents, the retrieval-side
  twin of x106's vocabulary drift (which compares corpus slices, not
  single docs).
- x175 CvM drift (``operators/cvm.py``): the whole-distribution
  companion to x117's KS on the same split and quantization —
  permille-quantized Cramér–von Mises gap energy per event type,
  integrating the SQUARED ECDF gap so broad low-amplitude drift
  surfaces even when no single point crosses the KS max.
- s26 streaming CvM trajectory (``streaming/cvm_monitor.py``): the
  x175 readout assembled per event-time day from the KS monitor's
  EXISTING calendar-bounded cells — one streaming kernel, two drift
  readouts (the s18 twin relationship, and the trend-monitor
  multi-assembly pattern applied to the distribution monitor).
- x198 dimension-truncation recall (added r13): exact top-10 recall
  of 32-dim-truncated embeddings against the full 64-dim ranking —
  the Matryoshka-style dimension-cut safety audit, both rankings
  through the certified block-matmul kernel.
- x199 dedup-config stability (added r13): exact Rand index between
  the 0.8- and 0.7-threshold MinHash clusterings from ONE LSH+verify
  pass — the config-risk readout before re-deduplicating a corpus
  under a new threshold; nested thresholds pin
  pairs_both == pairs_a as an invariant.
- x67b cell-aligned interval profile (added r13 second session): the
  scale-path twin for x67's honestly quadratic pair join — incident
  windows snapped to 1-minute cells so the profile reduces over
  per-cell pre-aggregates; work linear in incidents,
  density-independent after the map-side combine (the s30/x176
  decomposition pattern applied to the interval-join family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.cvm import cvm_statistic
from m5_competition_kaggle_spark.operators.gini import gini_by_group
from m5_competition_kaggle_spark.operators.markov import (
    transition_surprisal,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

# The x114/x117 drift split: events span 2024-01-01..2024-01-31 UTC,
# halves split at 2024-01-16 00:00 UTC.
SPLIT_NS = 1_705_363_200_000_000_000
LOG_Q = 1_000_000
MIN_TRANS = 5  # x171: score only timelines with >= 5 transitions
MIN_TOKENS = 20  # x174: KL of near-empty docs is all quantization
TOP_N = 15

# --------------------------------------------------------------- x171


def x171_markov_surprisal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-15 most grammatically surprising user timelines under the
    corpus transition model (mean micro-nat surprisal, >= 5
    transitions; ties broken by user_id). The timeline order is
    (ts_nanos, event_id) — a unique key, so lag() is deterministic in
    both engines. Plan: one keyed window (transitions), one keyed agg
    (model counts, |event_type|^2 rows), a broadcast join back, one
    keyed agg per user, TakeOrdered top-15."""
    ev = load_table(spark, sf_dir, "events")
    scored = transition_surprisal(
        ev, "user_id", "event_type", ("ts_nanos", "event_id")
    )
    return (
        scored.filter(F.col("n_trans") >= MIN_TRANS)
        .select(
            F.col("key").alias("user_id"),
            "n_trans",
            "sum_surprisal_unat",
            "mean_surprisal_unat",
        )
        .orderBy(
            F.col("mean_surprisal_unat").desc(),
            F.col("user_id").asc(),
        )
        .limit(TOP_N)
    )


ORACLE_X171 = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
    FROM events
),
pairs AS (
    SELECT user_id AS key, a, event_type AS b
    FROM ordered WHERE a IS NOT NULL
),
cab AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
    FROM pairs GROUP BY a, b
),
ca AS (
    SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a
),
model AS (
    SELECT cab.a, cab.b,
           CAST(round(ln(ca.c_a) * {LOG_Q}) AS BIGINT)
           - CAST(round(ln(cab.c_ab) * {LOG_Q}) AS BIGINT) AS s_unat
    FROM cab JOIN ca ON ca.a = cab.a
),
per_key AS (
    SELECT p.key,
           CAST(count(*) AS BIGINT) AS n_trans,
           CAST(sum(m.s_unat) AS BIGINT) AS sum_surprisal_unat
    FROM pairs p JOIN model m ON m.a = p.a AND m.b = p.b
    GROUP BY p.key
)
SELECT key AS user_id, n_trans, sum_surprisal_unat,
       sum_surprisal_unat // n_trans AS mean_surprisal_unat
FROM per_key
WHERE n_trans >= {MIN_TRANS}
ORDER BY mean_surprisal_unat DESC, user_id ASC
LIMIT {TOP_N}
"""

# --------------------------------------------------------------- x172


def x172_sales_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-brand Gini of per-part unit-sales concentration.
    Members are ALL parts of the brand — a part with zero lineitem
    rows holds a rank at quantity 0 (a catalog that mostly doesn't
    sell is the inequality a buyer cares about). Per-part quantity is
    the BIGINT unit sum round(l_quantity); the fact-side aggregation
    shrinks lineitem to one row per part BEFORE the dimension join,
    so the join is dimension-sized."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr("CAST(round(l_quantity) AS BIGINT)")
            ).alias("q")
        )
    )
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    member = parts.join(
        li, parts.p_partkey == li.l_partkey, "left"
    ).select(
        "p_brand", F.coalesce("q", F.lit(0)).alias("qty")
    )
    return gini_by_group(member, ["p_brand"], "qty").orderBy(
        "p_brand"
    )


ORACLE_X172 = """
WITH sales AS (
    SELECT l_partkey,
           CAST(sum(CAST(round(l_quantity) AS BIGINT))
                AS BIGINT) AS q
    FROM lineitem GROUP BY l_partkey
),
member AS (
    SELECT p.p_brand, coalesce(s.q, 0) AS qty
    FROM part p LEFT JOIN sales s ON s.l_partkey = p.p_partkey
),
cells AS (
    SELECT p_brand, qty AS q, CAST(count(*) AS BIGINT) AS c
    FROM member GROUP BY p_brand, qty
),
scored AS (
    SELECT p_brand, q, c,
           CAST(sum(c) OVER (PARTITION BY p_brand ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) - c AS a_prev
    FROM cells
),
agg AS (
    SELECT p_brand,
           CAST(sum(c) AS BIGINT) AS n_members,
           CAST(sum(q * c) AS BIGINT) AS total,
           CAST(max(q) AS BIGINT) AS max_value,
           CAST(sum(q * (c * a_prev + (c * (c + 1)) // 2))
                AS BIGINT) AS rank_mass
    FROM scored GROUP BY p_brand
)
SELECT p_brand, n_members, total, max_value,
       CASE WHEN total > 0 THEN
           (1000000 * max_value) // total END AS top_share_ppm,
       rank_mass,
       CASE WHEN total > 0 THEN
           (1000000 * (2 * rank_mass - (n_members + 1) * total))
           // (n_members * total) END AS gini_ppm
FROM agg ORDER BY p_brand
"""

# --------------------------------------------------------------- x173


def x173_xcov_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer cross-covariance between every event-type pair
    (a < b) at lags −7..+7 over the daily unit-value series (the x170
    construction and overflow contract). cov_num_k = n_k·Σ(ya·yb) −
    Σya·Σyb pairing a's day t with b's day t+k; ratio_permille is the
    sign-handled floor permille against the pair's peak |cov_num|,
    and is_peak marks the lag(s) attaining it — a positive peak at
    k > 0 says a LEADS b by k days. Bounded output by construction:
    |types|·(|types|−1)/2 pairs × 15 lags."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_nanos DIV 86400000000000").alias("t"),
        F.expr("CAST(round(value) AS BIGINT)").alias("q"),
    )
    series = ev.groupBy("event_type", "t").agg(
        F.sum("q").alias("y")
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(-7, 8)])
    ).alias("k")
    a = series.select(
        F.col("event_type").alias("ta"),
        "t",
        F.col("y").alias("ya"),
        lags,
    )
    b = series.select(
        F.col("event_type").alias("tb_type"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    paired = a.join(b, F.col("tb") == F.col("t") + F.col("k")).filter(
        F.col("ta") < F.col("tb_type")
    )
    cov = paired.groupBy("ta", "tb_type", "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("ya").alias("sa"),
        F.sum("yb").alias("sb"),
        F.sum(F.col("ya") * F.col("yb")).alias("sab"),
    ).select(
        F.col("ta").alias("type_a"),
        F.col("tb_type").alias("type_b"),
        F.col("k").cast("long").alias("k"),
        "n_pairs",
        (
            F.col("n_pairs") * F.col("sab")
            - F.col("sa") * F.col("sb")
        ).alias("cov_num"),
    )
    peak = cov.groupBy("type_a", "type_b").agg(
        F.max(F.abs(F.col("cov_num"))).alias("peak_abs")
    )
    return (
        cov.join(peak, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "k",
            "n_pairs",
            "cov_num",
            F.expr(
                "CASE WHEN peak_abs > 0 THEN"
                " CASE WHEN cov_num >= 0 THEN"
                "   (1000 * cov_num) DIV peak_abs"
                " ELSE -((1000 * (-cov_num)) DIV peak_abs)"
                " END END"
            ).alias("ratio_permille"),
            (F.abs(F.col("cov_num")) == F.col("peak_abs")).alias(
                "is_peak"
            ),
        )
        .orderBy("type_a", "type_b", "k")
    )


ORACLE_X173 = """
WITH series AS (
    SELECT event_type,
           epoch_ns(ts) // 86400000000000 AS t,
           CAST(sum(CAST(round(value) AS BIGINT))
                AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
lagk AS (SELECT unnest(generate_series(-7, 7)) AS k),
paired AS (
    SELECT a.event_type AS ta, b.event_type AS tb, l.k,
           a.y AS ya, b.y AS yb
    FROM series a
    CROSS JOIN lagk l
    JOIN series b ON b.t = a.t + l.k
    WHERE a.event_type < b.event_type
),
cov AS (
    SELECT ta AS type_a, tb AS type_b, CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) AS BIGINT)
               * CAST(sum(ya * yb) AS BIGINT)
               - CAST(sum(ya) AS BIGINT)
               * CAST(sum(yb) AS BIGINT) AS cov_num
    FROM paired GROUP BY 1, 2, 3
),
peak AS (
    SELECT type_a, type_b,
           CAST(max(abs(cov_num)) AS BIGINT) AS peak_abs
    FROM cov GROUP BY 1, 2
)
SELECT c.type_a, c.type_b, c.k, c.n_pairs, c.cov_num,
       CASE WHEN p.peak_abs > 0 THEN
           CASE WHEN c.cov_num >= 0 THEN
               (1000 * c.cov_num) // p.peak_abs
           ELSE -((1000 * (-c.cov_num)) // p.peak_abs)
           END END AS ratio_permille,
       abs(c.cov_num) = p.peak_abs AS is_peak
FROM cov c JOIN peak p
  ON p.type_a = c.type_a AND p.type_b = c.type_b
ORDER BY c.type_a, c.type_b, c.k
"""

# --------------------------------------------------------------- x174


def x174_doc_kl_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-15 most out-of-distribution documents by exact micro-nat
    KL(doc unigram ‖ corpus unigram), docs with >= 20 tokens (the x30
    lowercase-alnum token rule). Per-token contribution
    c_dw·(L(c_dw) + L(N) − L(n_d) − L(C_w)) with L(x) =
    round(ln(x)·1e6) on BIGINTs (bit-identical cross-engine — the
    x167 precedent); kl_unat is the sign-handled floor division by
    n_d. Plan: tokenize once, two keyed aggs (doc-term, corpus-term),
    a keyed join on token, a 1-row broadcast for N — no global sort,
    TakeOrdered top-15."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'),"
            " x -> x <> '')"
        ).alias("ws"),
    )
    tok = docs.select(
        "doc_id", F.explode("ws").alias("w")
    )
    dw = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("c_dw")
    )
    nd = dw.groupBy("doc_id").agg(F.sum("c_dw").alias("n_d"))
    cw = dw.groupBy("w").agg(F.sum("c_dw").alias("c_w"))
    tot = cw.agg(F.sum("c_w").alias("n_corpus"))
    contrib = (
        dw.join(nd, "doc_id")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_d",
            (
                F.col("c_dw")
                * F.expr(
                    f"CAST(round(ln(c_dw) * {LOG_Q}) AS BIGINT)"
                    f" + CAST(round(ln(n_corpus) * {LOG_Q})"
                    f"   AS BIGINT)"
                    f" - CAST(round(ln(n_d) * {LOG_Q}) AS BIGINT)"
                    f" - CAST(round(ln(c_w) * {LOG_Q}) AS BIGINT)"
                )
            ).alias("num"),
        )
    )
    scored = (
        contrib.groupBy("doc_id", "n_d")
        .agg(F.sum("num").alias("kl_num"))
        .filter(F.col("n_d") >= MIN_TOKENS)
        .select(
            "doc_id",
            F.col("n_d").alias("n_tokens"),
            F.expr(
                "CASE WHEN kl_num >= 0 THEN kl_num DIV n_d"
                " ELSE -((-kl_num) DIV n_d) END"
            ).alias("kl_unat"),
        )
    )
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return (
        scored.join(src, "doc_id")
        .select("doc_id", "source", "n_tokens", "kl_unat")
        .orderBy(F.col("kl_unat").desc(), F.col("doc_id").asc())
        .limit(TOP_N)
    )


ORACLE_X174 = f"""
WITH base AS (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(text),
                                             '[^a-z0-9]+'),
                       x -> x <> '') AS ws
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(ws) AS w FROM base
),
dw AS (
    SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c_dw
    FROM tok GROUP BY doc_id, w
),
nd AS (
    SELECT doc_id, CAST(sum(c_dw) AS BIGINT) AS n_d
    FROM dw GROUP BY doc_id
),
cw AS (
    SELECT w, CAST(sum(c_dw) AS BIGINT) AS c_w FROM dw GROUP BY w
),
tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_corpus FROM cw),
contrib AS (
    SELECT dw.doc_id, nd.n_d,
           dw.c_dw * (
               CAST(round(ln(dw.c_dw) * {LOG_Q}) AS BIGINT)
               + CAST(round(ln(tot.n_corpus) * {LOG_Q}) AS BIGINT)
               - CAST(round(ln(nd.n_d) * {LOG_Q}) AS BIGINT)
               - CAST(round(ln(cw.c_w) * {LOG_Q}) AS BIGINT)
           ) AS num
    FROM dw
    JOIN nd ON nd.doc_id = dw.doc_id
    JOIN cw ON cw.w = dw.w
    CROSS JOIN tot
),
scored AS (
    SELECT doc_id, n_d AS n_tokens,
           CAST(sum(num) AS BIGINT) AS kl_num
    FROM contrib GROUP BY doc_id, n_d
    HAVING n_d >= {MIN_TOKENS}
)
SELECT s.doc_id, b.source, s.n_tokens,
       CASE WHEN s.kl_num >= 0 THEN s.kl_num // s.n_tokens
            ELSE -((-s.kl_num) // s.n_tokens) END AS kl_unat
FROM scored s JOIN base b ON b.doc_id = s.doc_id
ORDER BY kl_unat DESC, s.doc_id ASC
LIMIT {TOP_N}
"""

# --------------------------------------------------------------- x175


def x175_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permille-quantized Cramér–von Mises gap energy per event type
    on the x117 split and quantization (round(value·1000), first half
    vs second): where x117 reads the worst single point of the ECDF
    gap, omega2_micro integrates the SQUARED gap over the pooled
    distribution — the broad-drift readout. Same cells, complementary
    statistic (`operators/cvm.py` for the arithmetic and overflow
    contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts_nanos",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("q"),
    )
    ref = ev.filter(F.col("ts_nanos") < F.lit(SPLIT_NS))
    cmp_w = ev.filter(F.col("ts_nanos") >= F.lit(SPLIT_NS))
    return cvm_statistic(ref, cmp_w, "event_type", "q").orderBy(
        "event_type"
    )


ORACLE_X175 = f"""
WITH ev AS (
    SELECT event_type,
           epoch_ns(ts) AS ts_nanos,
           CAST(round(value * 1000) AS BIGINT) AS q
    FROM events
),
cells AS (
    SELECT event_type AS grp, q,
           CAST(sum(CASE WHEN ts_nanos < {SPLIT_NS} THEN 1
                         ELSE 0 END) AS BIGINT) AS c_ref,
           CAST(sum(CASE WHEN ts_nanos >= {SPLIT_NS} THEN 1
                         ELSE 0 END) AS BIGINT) AS c_cmp
    FROM ev GROUP BY event_type, q
),
scored AS (
    SELECT grp, q, c_ref, c_cmp,
           CAST(sum(c_ref) OVER (PARTITION BY grp ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ref,
           CAST(sum(c_cmp) OVER (PARTITION BY grp ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cmp,
           CAST(sum(c_ref) OVER (PARTITION BY grp) AS BIGINT)
               AS n_ref,
           CAST(sum(c_cmp) OVER (PARTITION BY grp) AS BIGINT)
               AS n_cmp
    FROM cells
),
gapped AS (
    SELECT grp, n_ref, n_cmp, c_ref, c_cmp,
           (1000 * abs(n_cmp * cum_ref - n_ref * cum_cmp))
               // (n_ref * n_cmp) AS gap_pm
    FROM scored WHERE n_ref > 0 AND n_cmp > 0
)
SELECT grp AS event_type, n_ref, n_cmp,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum((c_ref + c_cmp) * gap_pm * gap_pm)
            AS BIGINT) AS gap_energy,
       CAST(sum((c_ref + c_cmp) * gap_pm * gap_pm) AS BIGINT)
           // (n_ref + n_cmp) AS omega2_micro
FROM gapped GROUP BY grp, n_ref, n_cmp
ORDER BY event_type
"""

# ---------------------------------------------------------------- s26


def s26_stream_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming CvM trajectory
    (``streaming/cvm_monitor.py``): per-event-time-day CvM gap energy
    of that day's integer-quantized value distribution against the
    frozen first-half reference histogram — assembled from the SAME
    calendar-bounded (day, bucket) cells the s18 KS monitor already
    maintains (one streaming kernel, two drift readouts; stream ==
    batch proven in tests/test_r14_queue.py through the shared
    ``cvm_day_table`` assembly)."""
    from m5_competition_kaggle_spark.streaming.cvm_monitor import (
        cvm_day_table,
    )
    from m5_competition_kaggle_spark.streaming.ks_monitor import (
        day_bucket_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    ref_counts = (
        ev.filter(F.col("ts_nanos") < F.lit(SPLIT_NS))
        .groupBy(
            F.expr("CAST(round(value) AS BIGINT)").alias("q")
        )
        .agg(F.count(F.lit(1)).alias("c_ref"))
    )
    days = day_bucket_counts(ev, since_nanos=SPLIT_NS)
    return cvm_day_table(days, ref_counts).orderBy("day")


ORACLE_S26 = f"""
WITH ref AS (
    SELECT CAST(round(value) AS BIGINT) AS q,
           CAST(count(*) AS BIGINT) AS c_ref
    FROM events WHERE epoch_ns(ts) < {SPLIT_NS}
    GROUP BY 1
),
dc AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(round(value) AS BIGINT) AS q,
           CAST(count(*) AS BIGINT) AS c_cmp
    FROM events WHERE epoch_ns(ts) >= {SPLIT_NS}
    GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM dc),
grid AS (SELECT days.day, ref.q, ref.c_ref
         FROM days CROSS JOIN ref),
cells AS (
    SELECT coalesce(g.day, d.day) AS day,
           coalesce(g.q, d.q) AS q,
           coalesce(g.c_ref, 0) AS c_ref,
           coalesce(d.c_cmp, 0) AS c_cmp
    FROM grid g FULL OUTER JOIN dc d
      ON d.day = g.day AND d.q = g.q
),
scored AS (
    SELECT day, q, c_ref, c_cmp,
           CAST(sum(c_ref) OVER (PARTITION BY day ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ref,
           CAST(sum(c_cmp) OVER (PARTITION BY day ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cmp,
           CAST(sum(c_ref) OVER (PARTITION BY day) AS BIGINT)
               AS n_ref,
           CAST(sum(c_cmp) OVER (PARTITION BY day) AS BIGINT)
               AS n_cmp
    FROM cells
),
gapped AS (
    SELECT day, n_ref, n_cmp, c_ref, c_cmp,
           (1000 * abs(n_cmp * cum_ref - n_ref * cum_cmp))
               // (n_ref * n_cmp) AS gap_pm
    FROM scored WHERE n_ref > 0 AND n_cmp > 0
)
SELECT day, n_ref, n_cmp,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum((c_ref + c_cmp) * gap_pm * gap_pm)
            AS BIGINT) AS gap_energy,
       CAST(sum((c_ref + c_cmp) * gap_pm * gap_pm) AS BIGINT)
           // (n_ref + n_cmp) AS omega2_micro
FROM gapped GROUP BY day, n_ref, n_cmp
ORDER BY day
"""


# --------------------------------------------------------------- x198


def x198_dim_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dimension-truncation recall audit (added r13): exact top-10 by
    quantized dot under the FULL 64-dim embeddings vs under the first
    32 dims only — per-query overlap count and recall permille, plus
    the corpus totals repeated on every row. The measurement that
    decides whether a Matryoshka-style dimension cut (half the ANN
    memory/compute) is safe for this corpus, certified exactly: both
    rankings run through the certified block-matmul kernel
    (``brute_force_topk`` — distributed int64 matmul, no driver
    collect) and the overlap is a keyed semi-join count.

    Scale: two O(|Q|·|N|) exact passes through the block grid (the
    audit-scale baseline, x9's class — on a real corpus the same
    recall is computed on a query SAMPLE, which is what vec_id % 50
    selects); the overlap join carries Q·k rows. Tie semantics: rank
    boundaries break (dot DESC, neighbor_id ASC) in both engines, so
    the top-10 SETS are deterministic and the overlap certifies."""
    from m5_competition_kaggle_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    half = emb.withColumn("embedding", F.expr("slice(embedding, 1, 32)"))
    half_q = queries.withColumn(
        "embedding", F.expr("slice(embedding, 1, 32)")
    )
    # Both exact top-10 tables are bounded (|Q|·k rows) and consumed
    # twice each (overlap semi-join + per-query denominator, and per_q
    # itself feeds the corpus-total broadcast AND the final crossJoin)
    # — without the eager checkpoints every consumer replays an
    # O(|Q|·|N|) block-matmul pass (measured: 12 parquet scans / 18
    # windows in the composed plan). Guide §5 caching-when-reused;
    # x166's bounded-shortlist convention.
    full_top = materialize(
        brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
    )
    trunc_top = materialize(
        brute_force_topk(half, half_q, k=10)
        .select("query_id", "neighbor_id")
    )
    matched = (
        full_top.join(
            trunc_top, ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    per_q = materialize(
        full_top.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("k_full"))
        .join(matched, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            F.expr(
                "coalesce(n_matched, 0) * 1000 DIV k_full"
            ).alias("recall_permille"),
        )
    )
    tot = F.broadcast(
        per_q.agg(
            F.sum("n_matched").cast("long").alias("corpus_matched"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
        )
    )
    return (
        per_q.crossJoin(tot)
        .select(
            "query_id",
            "n_matched",
            "recall_permille",
            "corpus_matched",
            "n_queries",
        )
        .orderBy("query_id")
    )


_X198_SCORED = """
scored_{tag} AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(
             generate_series(1, {dim}),
             i -> CAST(round(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT)
                * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000)
                       AS BIGINT))) AS BIGINT) AS dot
  FROM embeddings e, qset q
  WHERE e.vec_id <> q.query_id),
top_{tag} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS r
    FROM scored_{tag})
  WHERE r <= 10)
"""

ORACLE_X198 = f"""
WITH qset AS (SELECT vec_id AS query_id, embedding AS qe
              FROM embeddings WHERE vec_id % 50 = 0),
{_X198_SCORED.format(tag="full", dim="len(e.embedding)")},
{_X198_SCORED.format(tag="half", dim="32")},
matched AS (
  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM top_full f
  JOIN top_half h ON h.query_id = f.query_id
                 AND h.neighbor_id = f.neighbor_id
  GROUP BY f.query_id),
per_q AS (
  SELECT t.query_id,
         CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
         coalesce(m.n_matched, 0) * 1000
             // CAST(count(*) AS BIGINT) AS recall_permille
  FROM top_full t LEFT JOIN matched m ON m.query_id = t.query_id
  GROUP BY t.query_id, m.n_matched),
tot AS (SELECT CAST(sum(n_matched) AS BIGINT) AS corpus_matched,
               CAST(count(*) AS BIGINT) AS n_queries
        FROM per_q)
SELECT p.query_id, p.n_matched, p.recall_permille,
       t.corpus_matched, t.n_queries
FROM per_q p CROSS JOIN tot t
ORDER BY p.query_id
"""

# --------------------------------------------------------------- x199


def x199_dedup_config_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-config stability (added r13): the exact Rand index
    between the cluster assignments two MinHash thresholds produce
    (0.8 — the x2/x24 production config — vs the looser 0.7), with
    every pair-counting component exhibited as an exact integer. ONE
    LSH+verify pass supplies both edge sets (the candidate pairs do
    not depend on the threshold — only the exact-jaccard filter
    does), singletons keep their own id as cluster id on both sides,
    and the contingency pair counts give Rand =
    (agree_same + agree_diff) / C(n,2) in closed form. One number
    that says whether a threshold change re-shuffles dedup families
    or only trims edge cases — the config-risk readout to run BEFORE
    re-deduplicating a 100 TB corpus under a new threshold.

    Output (one row): n_docs, same-pair counts within A, within B,
    and within both, total pairs, and rand_ppm. Integer contract:
    n·(n−1) < 2^63 (n ≤ 3.0·10⁹ docs); the ppm quotient computes in
    DECIMAL(38,0) with the loud-envelope guard (decimal DIV wraps
    silently past int64 — the r13 pin class), and the DuckDB twin is
    HUGEINT throughout.

    Scale: the LSH pass is the certified x2 path (band-bucketed,
    never all-pairs); both CC runs are the certified 1-shuffle/round
    kernel; contingency is a keyed (ca, cb) aggregate whose
    cardinality is bounded by the cluster count; the final 1-row
    merges are the allowed constant-size reductions."""
    from m5_competition_kaggle_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from m5_competition_kaggle_spark.operators.graph import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one LSH+verify pass at the LOOSER threshold; the tighter config
    # is a filter on the exact jaccard already computed per pair.
    # Materialized: both CC runs (and their iterations) re-read the
    # verified pair set; pairs are LSH-bounded, far smaller than the
    # corpus.
    pairs = materialize(minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.7,
    ).select("id_a", "id_b", "jaccard"))
    ca = dedup_clusters(
        pairs.filter(F.col("jaccard") >= 0.8).select("id_a", "id_b")
    ).select("doc_id", F.col("cluster_id").alias("ca"))
    cb = dedup_clusters(pairs.select("id_a", "id_b")).select(
        "doc_id", F.col("cluster_id").alias("cb")
    )
    assign = (
        docs.select("doc_id")
        .join(ca, "doc_id", "left")
        .join(cb, "doc_id", "left")
        .select(
            F.coalesce(F.col("ca"), F.col("doc_id")).alias("ca"),
            F.coalesce(F.col("cb"), F.col("doc_id")).alias("cb"),
        )
    )
    # r14: cont feeds three reductions (pairs_both, pairs_a, pairs_b);
    # without a cut each re-runs the docs∪ca∪cb join. Bounded by the
    # cluster count.
    cont = materialize(assign.groupBy("ca", "cb").agg(
        F.count(F.lit(1)).alias("nij")
    ))
    both = cont.agg(
        F.sum(F.expr("nij * (nij - 1) DIV 2"))
        .cast("long")
        .alias("pairs_both"),
        F.sum("nij").cast("long").alias("n_docs"),
    )
    pa = (
        cont.groupBy("ca")
        .agg(F.sum("nij").alias("na"))
        .agg(
            F.sum(F.expr("na * (na - 1) DIV 2"))
            .cast("long")
            .alias("pairs_a")
        )
    )
    pb = (
        cont.groupBy("cb")
        .agg(F.sum("nij").alias("nb"))
        .agg(
            F.sum(F.expr("nb * (nb - 1) DIV 2"))
            .cast("long")
            .alias("pairs_b")
        )
    )
    return (
        both.crossJoin(F.broadcast(pa))
        .crossJoin(F.broadcast(pb))
        .select(
            "n_docs",
            "pairs_a",
            "pairs_b",
            "pairs_both",
            F.expr("n_docs * (n_docs - 1) DIV 2").alias("total_pairs"),
            F.expr(
                "CASE WHEN n_docs >= 2 THEN "
                "CASE WHEN 1000000 * CAST("
                "  2 * pairs_both + n_docs * (n_docs - 1) DIV 2"
                "  - pairs_a - pairs_b AS DECIMAL(38,0))"
                " > CAST(9223372036854775807 AS DECIMAL(38,0))"
                "   * (n_docs * (n_docs - 1) DIV 2)"
                " THEN CAST(raise_error("
                "'x199: rand_ppm past int64 envelope') AS BIGINT)"
                " ELSE COALESCE(CAST("
                "  (1000000 * CAST(2 * pairs_both"
                "   + n_docs * (n_docs - 1) DIV 2"
                "   - pairs_a - pairs_b AS DECIMAL(38,0)))"
                "  DIV (n_docs * (n_docs - 1) DIV 2) AS BIGINT),"
                "  CAST(raise_error("
                "'x199: rand_ppm past DECIMAL(38,0) envelope')"
                "  AS BIGINT)) END END"
            ).alias("rand_ppm"),
        )
    )


def _x199_oracle() -> str:
    from m5_competition_kaggle_spark.queries.extensions import (
        _minhash_verified_ctes,
    )

    return f"""
WITH RECURSIVE {_minhash_verified_ctes(16, 4)},
pa AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
pb AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.7),
ea AS (SELECT id_a AS a, id_b AS b FROM pa
       UNION SELECT id_b, id_a FROM pa),
reacha(node, reached) AS (
    SELECT a, a FROM ea
    UNION
    SELECT r.node, e.b FROM reacha r JOIN ea e ON e.a = r.reached
),
compa AS (SELECT node, min(reached) AS ca FROM reacha GROUP BY node),
eb AS (SELECT id_a AS a, id_b AS b FROM pb
       UNION SELECT id_b, id_a FROM pb),
reachb(node, reached) AS (
    SELECT a, a FROM eb
    UNION
    SELECT r.node, e.b FROM reachb r JOIN eb e ON e.a = r.reached
),
compb AS (SELECT node, min(reached) AS cb FROM reachb GROUP BY node),
assign AS (
    SELECT coalesce(a.ca, d.doc_id) AS ca,
           coalesce(b.cb, d.doc_id) AS cb
    FROM docs d
    LEFT JOIN compa a ON a.node = d.doc_id
    LEFT JOIN compb b ON b.node = d.doc_id),
cont AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS nij
         FROM assign GROUP BY ca, cb),
tboth AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT)
                     AS pairs_both,
                 CAST(sum(nij) AS BIGINT) AS n_docs
          FROM cont),
pairs_a AS (SELECT CAST(sum(na * (na - 1) // 2) AS BIGINT) AS pairs_a
            FROM (SELECT CAST(sum(nij) AS BIGINT) AS na
                  FROM cont GROUP BY ca)),
pairs_b AS (SELECT CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS pairs_b
            FROM (SELECT CAST(sum(nij) AS BIGINT) AS nb
                  FROM cont GROUP BY cb))
SELECT t.n_docs, a.pairs_a, b.pairs_b, t.pairs_both,
       t.n_docs * (t.n_docs - 1) // 2 AS total_pairs,
       CASE WHEN t.n_docs >= 2 THEN CAST(
           (1000000 * CAST(2 * t.pairs_both
                + t.n_docs * (t.n_docs - 1) // 2
                - a.pairs_a - b.pairs_b AS HUGEINT))
           // (t.n_docs * (t.n_docs - 1) // 2) AS BIGINT)
       END AS rand_ppm
FROM tboth t CROSS JOIN pairs_a a CROSS JOIN pairs_b b
"""


# --------------------------------------------------------------- x67b

# 1-minute cells; a cell-aligned incident window spans 30 of them.
CELL_NS = 60 * 1_000_000_000
WINDOW_CELLS = 30


def x67b_interval_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-aligned scale-path twin of x67_interval_join — the same
    incident-window profile (events / distinct users / first / last
    timestamp per error-event window) computed WITHOUT materializing
    (point, interval) pairs.

    x67 is the engine's one honestly quadratic workload: at 100x event
    density both the window count and the events-per-window grow 100x,
    so pair-join WORK grows 10,000x (BASELINE.md measured 108.9x wall
    at 100x density). The fix is the same move s30 made for s24's
    span-quadratic Theil-Sen and x176's day-cell decomposition: change
    the window contract from event-anchored [t, t+30min) to
    CELL-ALIGNED — the 30 one-minute cells starting at the error
    event's cell — so every window is a union of whole cells and the
    profile reduces over per-cell pre-aggregates:

    - ``cells``: one hash-aggregate row per 1-minute cell
      (count / min / max of epoch-nanos) — map-side combine absorbs
      density BEFORE any join;
    - ``cell_users``: DISTINCT (cell, user_id) — bounded by
      |cells| x |users| no matter how many raw events land in a cell;
    - each incident explodes to exactly ``WINDOW_CELLS`` = 30 cell
      keys (constant fan-out, vs x67's per-event fan-out), equi-joins
      the two pre-aggregates on the keyed shuffle, and re-aggregates.

    Work per incident is 30 cell rows + 30 x (distinct users per
    cell, saturating at |users|): total work grows LINEARLY in
    incident count and is density-independent after the pre-aggregate
    — the 10,000x pair blowup becomes ~100x. All-integer epoch-nanos
    arithmetic (cell id via integer DIV — epoch-nanos exceed double's
    2^52 exact range, so float-division cells could misplace boundary
    events); bit-exact against the DuckDB oracle.

    Reference parity: reference pipeline.py builds only equi-keyed
    merges; the interval class and its scale path are engine
    extensions (SURVEY §2 extension families).
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.col("ts_nanos").alias("tsn"),
        F.expr(f"ts_nanos DIV {CELL_NS}").alias("cell"),
    )
    cells = pts.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cn"),
        F.min("tsn").alias("cmn"),
        F.max("tsn").alias("cmx"),
    )
    cell_users = pts.select("cell", "user_id").distinct()
    inc = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.expr(f"ts_nanos DIV {CELL_NS}").alias("c0"),
    )
    inc_cells = inc.select(
        "incident_id",
        F.explode(
            F.sequence(
                F.col("c0"), F.col("c0") + F.lit(WINDOW_CELLS - 1)
            )
        ).alias("cell"),
    )
    stats = (
        inc_cells.join(cells, "cell")
        .groupBy("incident_id")
        .agg(
            F.sum("cn").alias("n_events"),
            F.min("cmn").alias("first_tsn"),
            F.max("cmx").alias("last_tsn"),
        )
    )
    users = (
        inc_cells.join(cell_users, "cell")
        .groupBy("incident_id")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    # Inner join is exact: every incident's own error event occupies
    # the window's first cell, so both sides emit every incident_id.
    return (
        stats.join(users, "incident_id")
        .select(
            "incident_id", "n_events", "n_users", "first_tsn",
            "last_tsn",
        )
        .orderBy("incident_id")
    )


ORACLE_X67B = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn,
         epoch_ns(ts) // {CELL_NS} AS cell
  FROM events),
cells AS (SELECT cell, count(*) AS cn, min(tsn) AS cmn,
                 max(tsn) AS cmx
          FROM ev GROUP BY cell),
cell_users AS (SELECT DISTINCT cell, user_id FROM ev),
inc AS (SELECT event_id AS incident_id, cell AS c0
        FROM ev WHERE event_type = 'error'),
inc_cells AS (SELECT incident_id, c0 + off AS cell
              FROM inc CROSS JOIN range(0, {WINDOW_CELLS}) AS t(off)),
stats AS (SELECT incident_id, CAST(sum(cn) AS BIGINT) AS n_events,
                 min(cmn) AS first_tsn, max(cmx) AS last_tsn
          FROM inc_cells JOIN cells USING (cell)
          GROUP BY incident_id),
users AS (SELECT incident_id,
                 count(DISTINCT user_id) AS n_users
          FROM inc_cells JOIN cell_users USING (cell)
          GROUP BY incident_id)
SELECT incident_id, n_events, n_users, first_tsn, last_tsn
FROM stats JOIN users USING (incident_id)
ORDER BY incident_id
"""


QUERIES = {
    "x171_markov_surprisal": x171_markov_surprisal,
    "x172_sales_gini": x172_sales_gini,
    "x173_xcov_leadlag": x173_xcov_leadlag,
    "x174_doc_kl_novelty": x174_doc_kl_novelty,
    "x175_cvm_drift": x175_cvm_drift,
    "s26_stream_cvm": s26_stream_cvm,
    "x198_dim_truncation_recall": x198_dim_truncation_recall,
    "x199_dedup_config_stability": x199_dedup_config_stability,
    "x67b_interval_cells": x67b_interval_cells,
}

ORACLES = {
    "x171_markov_surprisal": ORACLE_X171,
    "x172_sales_gini": ORACLE_X172,
    "x173_xcov_leadlag": ORACLE_X173,
    "x174_doc_kl_novelty": ORACLE_X174,
    "x175_cvm_drift": ORACLE_X175,
    "s26_stream_cvm": ORACLE_S26,
    "x198_dim_truncation_recall": ORACLE_X198,
    "x199_dedup_config_stability": _x199_oracle(),
    "x67b_interval_cells": ORACLE_X67B,
}
