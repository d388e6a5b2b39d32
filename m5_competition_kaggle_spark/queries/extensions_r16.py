"""Round-16 queue — STAGED UNREGISTERED, four rounds ahead (the
r12 window plan is fixed; r13/r14/r15 queues are staged; see
queries/__init__.py). Locally certified by ``tests/test_r16_queue.py``
with the same Spark-vs-DuckDB differential as
``scripts/check_oracle.py``.

- x180 entropy rate: exact micro-nat conditional entropy H(next|state)
  of the corpus transition model per state, with the
  frequency-weighted corpus entropy rate — how predictable the event
  grammar IS, the model-level summary whose per-timeline residual is
  x171's surprisal (identity pinned: Σ_users sum_surprisal ==
  Σ_states h_num exactly, both count the same micro-nats).
- x181 runs test: Wald–Wolfowitz runs count of daily up/down moves
  per event type — do volumes trend/mean-revert beyond what the
  autocovariance profile (x170) sees, left as exact integers (runs,
  n_plus, n_minus, expected-milli, variance rational) so the hash
  certifies without a normal approximation.
- x182 label margin: per-label nearest-centroid margin audit —
  score(true centroid) minus best other-centroid score per vector
  (the x-series centroid scoring verbatim), aggregated to
  misranked counts and exact margin sums. The separability audit
  under x142's silhouette (which measures cohesion, not rank safety).
- x183 conversion lag: time-to-convert funnel readout — per user the
  gap from first 'view' to first 'purchase', aggregated exactly
  (conversion ppm, lag minute sums/extremes). The latency dimension
  x136's stage-count funnel does not carry.
- s28 stateful transitions (``streaming/transition_state.py``): the
  time-resolved transition matrix (day, a, b, n) via a pandas kernel
  shared verbatim between the certified batch grouped-map and an
  applyInPandasWithState stream carrying each user's last event —
  the s14 integration style applied to sequences; pairs straddling
  micro-batches emit exactly once (proven in the queue tests).
- x206 watermark audit (added r13 second session): the measurement
  behind the withWatermark delay — replay in arrival order, lateness
  = event-time high-water mark minus own event time, exact
  p50/p95/p99/max in minutes. The running max goes through the
  two-phase max scan (operators/prefix.py, the sum scan over the max
  monoid); honest fixture finding: the generator emits in
  timestamp order, so the corpus reads exactly 0 everywhere.
- x211 weekly spectrum (added r14): single-bin DFT (Goertzel) power
  at period 7 of each type's daily unit series via a shared
  quantized twiddle table — the frequency-domain seasonality
  certificate the lag-domain ACF (x170) and the hour-of-day shape
  (x190) don't carry; exact integers, DECIMAL(38,0) squares.
- x219 EWMA forecast skill (added r14): one-step-ahead α = ½
  exponential smoothing (weights exact powers of two over 2²⁰ − 1)
  raced against the lag-1 naive per type — exact-integer SSEs via
  cross-multiplied residuals, err_share_ppm bounded ≤ 10⁶ by
  construction, win-day sign test beside it; the classical-baseline
  audit under the reference's LightGBM forecaster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.sources.catalog import load_table

NANOS_PER_DAY = 86_400_000_000_000
NANOS_PER_MIN = 60_000_000_000
LOG_Q = 1_000_000

# --------------------------------------------------------------- x180


def x180_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact micro-nat conditional entropy per state of the corpus
    first-order transition model, plus the frequency-weighted entropy
    rate replicated onto every row (1-row broadcast — the x167
    bounded-summary idiom). h_num = Σ_b c_ab·(L(c_a) − L(c_ab)) with
    L(x) = round(ln(x)·1e6) (bit-identical cross-engine), so
    h_unat = h_num DIV c_a is the exact integer both engines floor
    identically (h_num >= 0 termwise). The x171 identity — every
    user-timeline surprisal micro-nat is counted here exactly once —
    is pinned in the queue tests."""
    from m5_competition_kaggle_spark.operators.markov import (
        transition_pairs,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = transition_pairs(
        ev, "user_id", "event_type", ("ts_nanos", "event_id")
    )
    cab = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    ca = cab.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"),
        F.count(F.lit(1)).cast("long").alias("n_next"),
    )
    per_state = (
        cab.join(ca, "a")
        .select(
            "a",
            "c_a",
            "n_next",
            (
                F.col("c_ab")
                * F.expr(
                    f"CAST(round(ln(c_a) * {LOG_Q}) AS BIGINT)"
                    f" - CAST(round(ln(c_ab) * {LOG_Q}) AS BIGINT)"
                )
            ).alias("term"),
        )
        .groupBy("a", "c_a", "n_next")
        .agg(F.sum("term").alias("h_num"))
    )
    rate = per_state.agg(
        F.sum("h_num").alias("rate_num"),
        F.sum("c_a").alias("n_trans"),
    ).select(
        F.expr("rate_num DIV n_trans").alias("rate_unat")
    )
    return (
        per_state.join(F.broadcast(rate))
        .select(
            F.col("a").alias("state"),
            "c_a",
            "n_next",
            "h_num",
            F.expr("h_num DIV c_a").alias("h_unat"),
            "rate_unat",
        )
        .orderBy("state")
    )


ORACLE_X180 = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
    FROM events
),
pairs AS (
    SELECT a, event_type AS b FROM ordered WHERE a IS NOT NULL
),
cab AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
    FROM pairs GROUP BY a, b
),
ca AS (
    SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
           CAST(count(*) AS BIGINT) AS n_next
    FROM cab GROUP BY a
),
per_state AS (
    SELECT cab.a, ca.c_a, ca.n_next,
           CAST(sum(cab.c_ab * (
               CAST(round(ln(ca.c_a) * {LOG_Q}) AS BIGINT)
               - CAST(round(ln(cab.c_ab) * {LOG_Q}) AS BIGINT)
           )) AS BIGINT) AS h_num
    FROM cab JOIN ca ON ca.a = cab.a
    GROUP BY cab.a, ca.c_a, ca.n_next
),
rate AS (
    SELECT CAST(sum(h_num) AS BIGINT)
               // CAST(sum(c_a) AS BIGINT) AS rate_unat
    FROM per_state
)
SELECT p.a AS state, p.c_a, p.n_next, p.h_num,
       p.h_num // p.c_a AS h_unat, r.rate_unat
FROM per_state p CROSS JOIN rate r
ORDER BY state
"""

# --------------------------------------------------------------- x181


def x181_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily unit-value series per
    event type: sign of the day-over-day move (+/−; zero moves drop —
    documented, both engines identical), exact runs count, and the
    null moments left as integers — expected_milli = 1000 +
    (2000·n₊·n₋) DIV (n₊+n₋) and the variance rational var_num /
    var_den = 2n₊n₋(2n₊n₋−n₊−n₋) / ((n₊+n₋)²(n₊+n₋−1)) — the x92
    leave-it-rational precedent, so no sqrt and no float enters the
    certified row. Runs << expected ⇒ trending regime; >> ⇒
    oscillation beyond what x170's autocovariance localizes."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts_nanos DIV {NANOS_PER_DAY}").alias("t"),
        F.expr("CAST(round(value) AS BIGINT)").alias("q"),
    )
    series = ev.groupBy("event_type", "t").agg(
        F.sum("q").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("t")
    moves = (
        series.withColumn(
            "diff", F.col("y") - F.lag("y").over(w)
        )
        .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
        .select(
            "event_type",
            "t",
            F.when(F.col("diff") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("mv"),
        )
    )
    w2 = Window.partitionBy("event_type").orderBy("t")
    runs = moves.withColumn(
        "new_run",
        F.when(
            F.lag("mv").over(w2).isNull()
            | (F.lag("mv").over(w2) != F.col("mv")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("mv") == 1, 1).otherwise(0)
            ).cast("long").alias("n_plus"),
            F.sum(
                F.when(F.col("mv") == -1, 1).otherwise(0)
            ).cast("long").alias("n_minus"),
            F.sum("new_run").cast("long").alias("runs"),
        )
        .select(
            "event_type",
            "n_plus",
            "n_minus",
            "runs",
            F.expr(
                "CASE WHEN n_plus + n_minus > 0 THEN"
                " 1000 + (2000 * n_plus * n_minus)"
                " DIV (n_plus + n_minus) END"
            ).alias("expected_milli"),
            F.expr(
                "2 * n_plus * n_minus"
                " * (2 * n_plus * n_minus - n_plus - n_minus)"
            ).alias("var_num"),
            F.expr(
                "CASE WHEN n_plus + n_minus > 1 THEN"
                " (n_plus + n_minus) * (n_plus + n_minus)"
                " * (n_plus + n_minus - 1) END"
            ).alias("var_den"),
        )
        .orderBy("event_type")
    )


ORACLE_X181 = f"""
WITH series AS (
    SELECT event_type,
           epoch_ns(ts) // {NANOS_PER_DAY} AS t,
           CAST(sum(CAST(round(value) AS BIGINT))
                AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
moves AS (
    SELECT event_type, t,
           CASE WHEN d > 0 THEN 1 ELSE -1 END AS mv
    FROM (SELECT event_type, t,
                 y - lag(y) OVER (PARTITION BY event_type
                                  ORDER BY t) AS d
          FROM series)
    WHERE d IS NOT NULL AND d <> 0
),
runs AS (
    SELECT event_type, mv,
           CASE WHEN lag(mv) OVER (PARTITION BY event_type
                                   ORDER BY t) IS NULL
                  OR lag(mv) OVER (PARTITION BY event_type
                                   ORDER BY t) <> mv
                THEN 1 ELSE 0 END AS new_run
    FROM moves
),
agg AS (
    SELECT event_type,
           CAST(sum(CASE WHEN mv = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_plus,
           CAST(sum(CASE WHEN mv = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_minus,
           CAST(sum(new_run) AS BIGINT) AS runs
    FROM runs GROUP BY event_type
)
SELECT event_type, n_plus, n_minus, runs,
       CASE WHEN n_plus + n_minus > 0 THEN
           1000 + (2000 * n_plus * n_minus)
           // (n_plus + n_minus) END AS expected_milli,
       2 * n_plus * n_minus
           * (2 * n_plus * n_minus - n_plus - n_minus) AS var_num,
       CASE WHEN n_plus + n_minus > 1 THEN
           (n_plus + n_minus) * (n_plus + n_minus)
           * (n_plus + n_minus - 1) END AS var_den
FROM agg ORDER BY event_type
"""

# --------------------------------------------------------------- x182


def x182_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label nearest-centroid margin audit: for every vector,
    margin = score(own-label centroid) − best(score over the other
    centroids), with score(v, l) = dot(quant(v), sum_q_l) DIV n_l —
    the x39/centroid_confusion scoring verbatim (self-inclusion:
    resubstitution audit). Output per label: n_vectors, n_misranked
    (margin < 0 — the vectors x-confusion counts off-diagonal),
    sum_margin and the sign-handled mean, min/max margins — all exact
    int64 under the x39 overflow contract."""
    from m5_competition_kaggle_spark.operators.centroid import (
        centroid_sums,
    )
    from m5_competition_kaggle_spark.operators.similarity import (
        quantize_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid_sums(emb)
    comps = emb.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode(quantize_expr("embedding")).alias("pos", "q"),
    ).withColumn("pos", F.col("pos").cast("long"))
    scored = (
        comps.join(
            F.broadcast(
                cents.select(
                    "pos",
                    F.col("label").alias("cand"),
                    "sum_q",
                    "n_vectors",
                )
            ),
            "pos",
        )
        .groupBy("vec_id", "true_label", "cand")
        .agg(
            F.sum(F.col("q") * F.col("sum_q")).alias("dot"),
            F.max("n_vectors").alias("n_l"),
        )
        # sign-handled: Spark DIV truncates toward zero, DuckDB //
        # floors — negative dots would silently diverge by one
        .withColumn(
            "score",
            F.expr(
                "CASE WHEN dot >= 0 THEN dot DIV n_l"
                " ELSE -((-dot) DIV n_l) END"
            ),
        )
    )
    margins = (
        scored.groupBy("vec_id", "true_label")
        .agg(
            F.max(
                F.when(
                    F.col("cand") == F.col("true_label"),
                    F.col("score"),
                )
            ).alias("s_true"),
            F.max(
                F.when(
                    F.col("cand") != F.col("true_label"),
                    F.col("score"),
                )
            ).alias("s_other"),
        )
        .select(
            "true_label",
            (F.col("s_true") - F.col("s_other")).alias("margin"),
        )
    )
    return (
        margins.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(
                F.when(F.col("margin") < 0, 1).otherwise(0)
            ).cast("long").alias("n_misranked"),
            F.sum("margin").alias("sum_margin"),
            F.min("margin").alias("min_margin"),
            F.max("margin").alias("max_margin"),
        )
        .select(
            F.col("true_label").cast("long").alias("label"),
            "n_vectors",
            "n_misranked",
            "sum_margin",
            F.expr(
                "CASE WHEN sum_margin >= 0 THEN"
                " sum_margin DIV n_vectors"
                " ELSE -((-sum_margin) DIV n_vectors) END"
            ).alias("mean_margin"),
            "min_margin",
            "max_margin",
        )
        .orderBy("label")
    )


ORACLE_X182 = """
WITH comp AS (
    SELECT vec_id, label AS true_label, i,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                AS BIGINT) AS q
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS t(i)
),
cents AS (
    SELECT true_label AS cand, i,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(count(*) AS BIGINT) AS n_l
    FROM comp GROUP BY true_label, i
),
scored AS (
    SELECT c.vec_id, c.true_label, k.cand,
           CAST(sum(c.q * k.sum_q) AS BIGINT) AS dot,
           CAST(max(k.n_l) AS BIGINT) AS n_l
    FROM comp c JOIN cents k ON k.i = c.i
    GROUP BY c.vec_id, c.true_label, k.cand
),
sc AS (
    SELECT vec_id, true_label, cand,
           CASE WHEN dot >= 0 THEN dot // n_l
                ELSE -((-dot) // n_l) END AS score
    FROM scored
),
margins AS (
    SELECT vec_id, true_label,
           max(CASE WHEN cand = true_label THEN score END)
           - max(CASE WHEN cand <> true_label THEN score END)
               AS margin
    FROM sc GROUP BY vec_id, true_label
),
agg AS (
    SELECT CAST(true_label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN margin < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_misranked,
           CAST(sum(margin) AS BIGINT) AS sum_margin,
           CAST(min(margin) AS BIGINT) AS min_margin,
           CAST(max(margin) AS BIGINT) AS max_margin
    FROM margins GROUP BY true_label
)
SELECT label, n_vectors, n_misranked, sum_margin,
       CASE WHEN sum_margin >= 0 THEN sum_margin // n_vectors
            ELSE -((-sum_margin) // n_vectors) END AS mean_margin,
       min_margin, max_margin
FROM agg ORDER BY label
"""

# --------------------------------------------------------------- x183


def x183_conversion_lag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert: per user the minute gap from FIRST 'view' to
    FIRST 'purchase' (converted = both exist and the purchase is not
    before the view), aggregated exactly — the latency dimension of
    the funnel beside x136's stage counts. One keyed aggregate over
    users, one global 1-row merge."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_nanos"))
        ).alias("v0"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts_nanos")
            )
        ).alias("p0"),
    )
    lagged = firsts.select(
        "v0",
        "p0",
        F.expr(
            "CASE WHEN v0 IS NOT NULL AND p0 IS NOT NULL"
            " AND p0 >= v0 THEN"
            f" (p0 - v0) DIV {NANOS_PER_MIN} END"
        ).alias("lag_min"),
    )
    return lagged.agg(
        F.sum(
            F.when(F.col("v0").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_viewers"),
        F.sum(
            F.when(F.col("lag_min").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_converted"),
        F.sum("lag_min").alias("sum_lag_min"),
        F.min("lag_min").alias("min_lag_min"),
        F.max("lag_min").alias("max_lag_min"),
    ).select(
        "n_viewers",
        "n_converted",
        F.expr(
            "CASE WHEN n_viewers > 0 THEN"
            " (1000000 * n_converted) DIV n_viewers END"
        ).alias("conversion_ppm"),
        "sum_lag_min",
        F.expr(
            "CASE WHEN n_converted > 0 THEN"
            " sum_lag_min DIV n_converted END"
        ).alias("mean_lag_min"),
        "min_lag_min",
        "max_lag_min",
    )


ORACLE_X183 = f"""
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view'
                    THEN epoch_ns(ts) END) AS v0,
           min(CASE WHEN event_type = 'purchase'
                    THEN epoch_ns(ts) END) AS p0
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY user_id
),
lagged AS (
    SELECT v0, p0,
           CASE WHEN v0 IS NOT NULL AND p0 IS NOT NULL
                 AND p0 >= v0 THEN
               (p0 - v0) // {NANOS_PER_MIN} END AS lag_min
    FROM firsts
),
agg AS (
    SELECT CAST(sum(CASE WHEN v0 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viewers,
           CAST(sum(CASE WHEN lag_min IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(sum(lag_min) AS BIGINT) AS sum_lag_min,
           CAST(min(lag_min) AS BIGINT) AS min_lag_min,
           CAST(max(lag_min) AS BIGINT) AS max_lag_min
    FROM lagged
)
SELECT n_viewers, n_converted,
       CASE WHEN n_viewers > 0 THEN
           (1000000 * n_converted) // n_viewers END
           AS conversion_ppm,
       sum_lag_min,
       CASE WHEN n_converted > 0 THEN
           sum_lag_min // n_converted END AS mean_lag_min,
       min_lag_min, max_lag_min
FROM agg
"""

# ---------------------------------------------------------------- s28


def s28_stateful_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-resolved transition matrix (day, a, b, n) via the batch
    grouped-map of ``streaming/transition_state.py`` — certifying the
    Arrow crossing against the pure-SQL lag window (the s14 pattern),
    which in turn certifies the applyInPandasWithState streaming twin
    that shares the pairing kernel verbatim (stream == batch with
    pairs straddling micro-batches proven in the queue tests).
    g18's corpus-total matrix is this table's marginal over day."""
    from m5_competition_kaggle_spark.streaming.transition_state import (
        batch_transitions,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_nanos").alias("tsn"),
        "event_id",
        "event_type",
    )
    return (
        batch_transitions(ev)
        .groupBy("day", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("day", "a", "b")
    )


ORACLE_S28 = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           epoch_ns(ts) // {NANOS_PER_DAY} AS day,
           lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
    FROM events
)
SELECT day, a, event_type AS b, CAST(count(*) AS BIGINT) AS n
FROM ordered WHERE a IS NOT NULL
GROUP BY day, a, event_type
ORDER BY day, a, b
"""


# --------------------------------------------------------------- x206


def x206_watermark_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-lateness audit: the measurement behind THE streaming
    config decision — ``withWatermark`` needs a delay, and the right
    delay is a quantile of how late events actually arrive. Replaying
    the corpus in arrival order (event_id — the generator's emit
    sequence, the stream's arrival contract), each event's lateness
    is the event-time HIGH-WATER MARK so far minus its own event
    time: exactly what Structured Streaming's watermark tracks.
    Output: one row — event counts, exact p50/p95/p99/max lateness in
    minutes (value-at-rank over minute cells, the x187 rank math).
    Set the watermark at p99 and you know you drop at most 1% under
    the measured arrival process.

    Scale shape: the running max goes through the two-phase
    range-partitioned scan (``operators/prefix.py::global_running_max``
    — the x29 sum scan over the max monoid, never a single-partition
    window over the corpus); lateness reduces to minute cells
    (calendar-bounded: a 31-day span has ≤ 44,641 distinct values —
    the x124/x187 allowance class for the cumulative window), then
    one global aggregate.

    Reference parity: no streaming surface in the reference; engine
    extension (SURVEY §2 streaming-ops family beside s1–s30).

    HONEST FIXTURE FINDING: the synthetic generator assigns event_id
    in timestamp order, so the replayed corpus is perfectly in-order
    and every lateness statistic is exactly 0 (watermark 0 — nothing
    would drop). That is the audit doing its job on an in-order
    stream; the nonzero arithmetic is pinned by the hand-walked
    out-of-order test.

    .. note:: calls ``global_running_max``, which launches a Spark
       job at call time (its partition-maxima collect) — not a lazy
       plan.
    """
    from m5_competition_kaggle_spark.operators.prefix import (
        global_running_max,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_nanos"
    )
    hw = global_running_max(
        ev, "ts_nanos", ("event_id",), "hw"
    )
    l = hw.select(
        F.expr(f"(hw - ts_nanos) DIV {NANOS_PER_MIN}").alias("lm"),
        F.when(F.col("hw") > F.col("ts_nanos"), 1)
        .otherwise(0)
        .cast("long")
        .alias("late"),
    )
    tot = l.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("late").alias("n_late"),
        F.max("lm").alias("max_lateness_min"),
    )
    cells = l.groupBy("lm").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = Window.orderBy("lm").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = cells.withColumn(
        "cum", F.sum("c").over(w_cum)
    ).withColumn("n", F.sum("c").over(Window.partitionBy()))
    qs = scored.agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 50 + 99) DIV 100"),
                F.col("lm"),
            )
        ).alias("p50_min"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 95 + 99) DIV 100"),
                F.col("lm"),
            )
        ).alias("p95_min"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 99 + 99) DIV 100"),
                F.col("lm"),
            )
        ).alias("p99_min"),
    )
    return tot.crossJoin(qs).select(
        "n_events", "n_late", "p50_min", "p95_min", "p99_min",
        "max_lateness_min",
    )


ORACLE_X206 = f"""
WITH hw AS (
    SELECT event_id, epoch_ns(ts) AS tsn,
           max(epoch_ns(ts)) OVER (ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS hw
    FROM events
),
l AS (
    SELECT (hw - tsn) // {NANOS_PER_MIN} AS lm,
           CASE WHEN hw > tsn THEN 1 ELSE 0 END AS late
    FROM hw
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late,
           max(lm) AS max_lateness_min
    FROM l
),
cells AS (SELECT lm, CAST(count(*) AS BIGINT) AS c
          FROM l GROUP BY lm),
scored AS (
    SELECT lm,
           CAST(sum(c) OVER (ORDER BY lm
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n
    FROM cells
),
qs AS (
    SELECT min(CASE WHEN cum >= (n * 50 + 99) // 100
                    THEN lm END) AS p50_min,
           min(CASE WHEN cum >= (n * 95 + 99) // 100
                    THEN lm END) AS p95_min,
           min(CASE WHEN cum >= (n * 99 + 99) // 100
                    THEN lm END) AS p99_min
    FROM scored
)
SELECT t.n_events, t.n_late, q.p50_min, q.p95_min, q.p99_min,
       t.max_lateness_min
FROM tot t CROSS JOIN qs q
"""


# --------------------------------------------------------------- x211

# round(1000·cos(2πr/7)) / round(1000·sin(2πr/7)), r = 0..6 — the
# quantized weekly-frequency twiddle table. Both engines read the SAME
# integer literals, so the spectrum is exact integer arithmetic; the
# 1e-3 trig quantization deviates the power ratio from the true DFT by
# < ~0.1% relative, which is part of the metric's definition (not an
# engine tolerance). TRIG_Q = 1000 (not 10⁶) keeps sc² inside
# DECIMAL(38,0) up to sum_y ≈ 7·10¹² — the envelope note in the
# docstring.
_C7 = (1000, 623, -223, -901, -901, -223, 623)
_S7 = (0, 782, 975, 434, -434, -975, -782)
_TRIG_Q = 1000


def x211_weekly_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-bin DFT (Goertzel) power at the weekly frequency of each
    event type's daily unit series — the frequency-domain seasonality
    certificate beside the time-domain readouts: x170's ACF sees
    correlation at EVERY lag, x190's diurnal profile sees the 24-hour
    shape; this is the one number saying how much of the series'
    energy sits exactly at period 7. weekly_power_ppm =
    10⁶·(sc² + ss²) / (TRIG_Q·Σy)² — the bin power as ppm of the DC
    (mean²) power, ≈ 0 for a flat/aperiodic series, → large for a
    strong weekly cycle (for y ≥ 0 the true ratio is ≤ 10⁶; the 1e-3
    trig rounding can nudge it marginally past, so the column is
    bounded by ~2·10⁶ — the quotient cannot approach the int64 DIV
    wrap).

    Days with no events contribute y = 0 to every sum, so absent rows
    are correct by construction (no calendar spine needed); n_days
    counts OBSERVED days. Exact integers end-to-end: y sums the
    x195-convention round(value) units, the twiddle factors are the
    shared quantized table, and the squares widen through
    DECIMAL(38,0) (ANSI raises loudly past sum_y ≈ 7·10¹² per type —
    ~1000× the 100×-probe magnitude).

    Scale shape: one map-side-combining (type, day) aggregate, a
    7-element broadcast-free literal lookup, then a per-type 1-row
    aggregate — the x170/x195 day-cell scan family, flat in every
    growth dimension except span (rows stay |types|).

    Reference parity: engine extension (SURVEY §2 temporal family
    beside x170/x181/x195).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts_nanos DIV {NANOS_PER_DAY}").alias("t"),
        F.expr("CAST(round(value) AS BIGINT)").alias("q"),
    )
    series = ev.groupBy("event_type", "t").agg(
        F.sum("q").alias("y")
    )
    c_arr = "array({})".format(
        ", ".join(f"{c}L" for c in _C7)
    )
    s_arr = "array({})".format(
        ", ".join(f"{s}L" for s in _S7)
    )
    phased = series.select(
        "event_type",
        "y",
        F.expr(
            f"element_at({c_arr}, CAST(t % 7 AS INT) + 1)"
        ).alias("c"),
        F.expr(
            f"element_at({s_arr}, CAST(t % 7 AS INT) + 1)"
        ).alias("s"),
    )
    agg = phased.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("y") * F.col("c")).alias("sc"),
        F.sum(F.col("y") * F.col("s")).alias("ss"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "sum_y",
        "sc",
        "ss",
        F.expr(
            "CASE WHEN sum_y > 0 THEN CAST("
            " (CAST(1000000 AS DECIMAL(38,0))"
            "  * (CAST(sc AS DECIMAL(38,0)) * sc"
            "     + CAST(ss AS DECIMAL(38,0)) * ss))"
            f" DIV (CAST({_TRIG_Q} AS DECIMAL(38,0)) * sum_y"
            f"      * (CAST({_TRIG_Q} AS DECIMAL(38,0)) * sum_y))"
            " AS BIGINT) END"
        ).alias("weekly_power_ppm"),
    ).orderBy("event_type")


ORACLE_X211 = f"""
WITH series AS (
    SELECT event_type,
           epoch_ns(ts) // {NANOS_PER_DAY} AS t,
           CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY event_type, epoch_ns(ts) // {NANOS_PER_DAY}
),
phased AS (
    SELECT event_type, y,
           ([{", ".join(str(c) for c in _C7)}])[
               CAST(t % 7 AS BIGINT) + 1] AS c,
           ([{", ".join(str(s) for s in _S7)}])[
               CAST(t % 7 AS BIGINT) + 1] AS s
    FROM series
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(y * c) AS BIGINT) AS sc,
           CAST(sum(y * s) AS BIGINT) AS ss
    FROM phased GROUP BY event_type
)
SELECT event_type, n_days, sum_y, sc, ss,
       CASE WHEN sum_y > 0 THEN CAST(
           (1000000 * (CAST(sc AS HUGEINT) * sc
                       + CAST(ss AS HUGEINT) * ss))
           // (CAST({_TRIG_Q} AS HUGEINT) * sum_y
               * ({_TRIG_Q} * sum_y)) AS BIGINT) END
           AS weekly_power_ppm
FROM agg ORDER BY event_type
"""


# --------------------------------------------------------------- x219

# EWMA (α = 1/2) truncated at EWMA_LAGS days: weights 2^(K−i) over
# the exact geometric denominator 2^K − 1. Pure powers of two keep
# every intermediate an exact integer — no float smoothing state.
EWMA_LAGS = 20
_EWMA_DEN = (1 << EWMA_LAGS) - 1  # 1048575


def x219_ewma_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-step-ahead EWMA forecast skill per event type — the
    classic exponential-smoothing baseline (α = ½, truncated at 20
    lags so the weights are exact powers of two) raced against the
    lag-1 naive on each type's zero-filled daily unit series.
    Residuals are cross-multiplied to the common denominator
    2²⁰ − 1, so both SSEs are exact integers and the headline
    err_share_ppm = 10⁶·SSE_ewma / (SSE_ewma + SSE_naive) is a
    DECIMAL(38,0) ratio bounded ≤ 10⁶ BY CONSTRUCTION (no DIV wrap
    possible; < 500000 means smoothing beats naive). win_days counts
    eval days where the EWMA's absolute scaled residual is strictly
    smaller — the sign-test companion the ratio alone can't give.
    The x168 MASE family judges a FIXED forecast column; this races
    two engine-computed forecasters.

    Missing days count as y = 0 (the x211 convention) via an
    explicit per-type calendar spine; the first EWMA_LAGS spine days
    are warm-up and excluded from evaluation.

    Scale shape: one map-side-combining (type, day) aggregate, a
    sequence() spine (calendar-bounded), 20 per-type lag() columns
    over DAY cells, one per-type 1-row aggregate. Envelope: the
    10⁶-scaled SSE numerator stays inside DECIMAL(38,0) up to
    SSE ≈ 10³² (scaled-residual magnitude ~10¹⁵ per day at the
    100×-dense probe, squares ~10³⁰ per day — ANSI raises loudly
    past the envelope).

    Reference parity: the reference's pipeline IS a per-store
    forecaster (pipeline.py:258-266 trains LightGBM); this is the
    engine's classical-baseline audit beside x168/x169/x195
    (SURVEY §2 forecast family).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts_nanos DIV {NANOS_PER_DAY}").alias("t"),
        F.expr("CAST(round(value) AS BIGINT)").alias("q"),
    )
    series = ev.groupBy("event_type", "t").agg(
        F.sum("q").alias("y")
    )
    spine = (
        series.groupBy("event_type")
        .agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(t0, t1)")).alias("t"),
        )
    )
    full = spine.join(series, ["event_type", "t"], "left").select(
        "event_type",
        "t",
        F.coalesce("y", F.lit(0).cast("long")).alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("t")
    num = None
    for i in range(1, EWMA_LAGS + 1):
        term = F.lit(1 << (EWMA_LAGS - i)) * F.coalesce(
            F.lag("y", i).over(w), F.lit(0).cast("long")
        )
        num = term if num is None else num + term
    lagged = full.select(
        "event_type",
        "y",
        F.row_number().over(w).alias("rn"),
        num.alias("fc_num"),
        F.coalesce(
            F.lag("y", 1).over(w), F.lit(0).cast("long")
        ).alias("y1"),
    ).filter(F.col("rn") > EWMA_LAGS)
    resid = lagged.select(
        "event_type",
        (F.lit(_EWMA_DEN) * F.col("y") - F.col("fc_num")).alias(
            "r_e"
        ),
        (F.lit(_EWMA_DEN) * (F.col("y") - F.col("y1"))).alias(
            "r_n"
        ),
    )
    dec = "decimal(38,0)"
    agg = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_days"),
        F.sum(
            F.when(
                F.abs(F.col("r_e")) < F.abs(F.col("r_n")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("win_days"),
        F.sum(F.expr(f"CAST(r_e AS {dec}) * r_e")).alias("__se"),
        F.sum(F.expr(f"CAST(r_n AS {dec}) * r_n")).alias("__sn"),
    )
    return agg.select(
        "event_type",
        "n_eval_days",
        "win_days",
        F.expr(
            "(1000000 * win_days) DIV n_eval_days"
        ).alias("win_ppm"),
        F.expr(
            "CASE WHEN __se + __sn > 0 THEN CAST("
            " (CAST(1000000 AS DECIMAL(38,0)) * __se)"
            " DIV (__se + __sn) AS BIGINT) END"
        ).alias("err_share_ppm"),
    ).orderBy("event_type")


ORACLE_X219 = f"""
WITH series AS (
    SELECT event_type,
           epoch_ns(ts) // {NANOS_PER_DAY} AS t,
           CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY event_type, epoch_ns(ts) // {NANOS_PER_DAY}
),
bounds AS (
    SELECT event_type, min(t) AS t0, max(t) AS t1
    FROM series GROUP BY event_type
),
spine AS (
    SELECT b.event_type, CAST(g.t AS BIGINT) AS t
    FROM bounds b, UNNEST(generate_series(b.t0, b.t1)) AS g(t)
),
full_series AS (
    SELECT sp.event_type, sp.t, COALESCE(s.y, 0) AS y
    FROM spine sp LEFT JOIN series s
        ON s.event_type = sp.event_type AND s.t = sp.t
),
lagged AS (
    SELECT event_type, y,
           row_number() OVER (PARTITION BY event_type ORDER BY t)
               AS rn,
           {" + ".join(
               f"CAST({1 << (EWMA_LAGS - i)} AS BIGINT)"
               f" * COALESCE(lag(y, {i}) OVER (PARTITION BY"
               " event_type ORDER BY t), 0)"
               for i in range(1, EWMA_LAGS + 1)
           )} AS fc_num,
           COALESCE(lag(y, 1) OVER (PARTITION BY event_type
               ORDER BY t), 0) AS y1
    FROM full_series
),
resid AS (
    SELECT event_type,
           {_EWMA_DEN} * y - fc_num AS r_e,
           {_EWMA_DEN} * (y - y1) AS r_n
    FROM lagged WHERE rn > {EWMA_LAGS}
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_eval_days,
           CAST(sum(CASE WHEN abs(r_e) < abs(r_n) THEN 1 ELSE 0
                    END) AS BIGINT) AS win_days,
           sum(CAST(r_e AS HUGEINT) * r_e) AS se,
           sum(CAST(r_n AS HUGEINT) * r_n) AS sn
    FROM resid GROUP BY event_type
)
SELECT event_type, n_eval_days, win_days,
       (1000000 * win_days) // n_eval_days AS win_ppm,
       CASE WHEN se + sn > 0 THEN CAST(
           (1000000 * se) // (se + sn) AS BIGINT) END
           AS err_share_ppm
FROM agg ORDER BY event_type
"""


QUERIES = {
    "x180_entropy_rate": x180_entropy_rate,
    "x181_runs_test": x181_runs_test,
    "x182_label_margin": x182_label_margin,
    "x183_conversion_lag": x183_conversion_lag,
    "s28_stateful_transitions": s28_stateful_transitions,
    "x206_watermark_audit": x206_watermark_audit,
    "x211_weekly_spectrum": x211_weekly_spectrum,
    "x219_ewma_forecast": x219_ewma_forecast,
}

ORACLES = {
    "x180_entropy_rate": ORACLE_X180,
    "x181_runs_test": ORACLE_X181,
    "x182_label_margin": ORACLE_X182,
    "x183_conversion_lag": ORACLE_X183,
    "s28_stateful_transitions": ORACLE_S28,
    "x206_watermark_audit": ORACLE_X206,
    "x211_weekly_spectrum": ORACLE_X211,
    "x219_ewma_forecast": ORACLE_X219,
}
