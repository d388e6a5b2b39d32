"""Round-17 queue — STAGED UNREGISTERED, five rounds ahead (the r12
window plan is fixed; r13–r16 queues are staged; see
queries/__init__.py). Locally certified by ``tests/test_r17_queue.py``
with the same Spark-vs-DuckDB differential as
``scripts/check_oracle.py``.

The journey-analytics batch: what users DO in order, at the query
surface a product/ops team actually asks —

- x184 phrase search: exact ADJACENT-bigram retrieval — the corpus's
  top bigram (data-driven, ties lexicographic) matched back against
  every document, per-source doc and occurrence counts. The boolean/
  phrase IR primitive beside x63's ranked BM25 (which bags words and
  cannot distinguish "new york" from "york new").
- x185 followed-by: the CEP counter — purchases followed by an error
  from the SAME user within 30 minutes, per day. The
  temporal-implication readout that x13's as-of join (nearest before)
  and x67's interval join (containment) don't aggregate.
- x186 path signatures: per g17-session the '>'-joined order of
  first occurrences of each event type — top-10 journey shapes by
  session count. Journey mining; g18's transition matrix is its
  one-step marginal.
- x187 conversion-lag quantiles: exact value-at-rank p10/p50/p90 of
  the x183 view→purchase lag minutes — the tail a mean hides (the
  p90 is what an SLA cares about). Grouped-cells rank math on the
  calendar-minute-bounded lag domain (the x124 allowance class).

- x200 concurrency profile (added r13 second session): the sweep-line
  ±1 boundary scan over g17-sessions — per-day session starts/ends,
  PEAK simultaneously-open sessions, and day-close level. Capacity
  planning's peak-concurrency readout; the running sum goes through
  the two-phase range-partitioned scan (operators/prefix.py), never
  a single-partition window.
- x208 strict-order funnel (added r13 second session): users
  progressing view → click → purchase where each step must follow
  the previous step's completion — a fixed chain of keyed
  min-aggregates and equi-joins (never a per-user array collect);
  reach counts and floor-ppm retention per step, strictness pinned
  by a purchase-before-view plant.
- x213 mutual information (added r14): exact quantized-log MI
  between event type and hour-of-day on x180's micro-nat kernel —
  the cross-type time-dependence number x190's per-type diurnal
  shapes don't carry; ≤ |types|·24 cells at any corpus size.
- x221 transition lift (added r14): pointwise-MI matrix of the
  event grammar — exact micro-nat over/under-representation of
  every a→b transition vs marginal independence, with full count
  context for support thresholds; the per-cell readout x180's
  entropy rate averages away and x192's set co-occurrence can't
  sequence. ≤ |types|² rows at any scale.

No new streaming entry: this family's streaming counterparts already
exist (s3 native sessions, s12 interval join, s28 stateful
transitions); the queue is deliberately batch-analytic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.sources.catalog import load_table

NANOS_PER_DAY = 86_400_000_000_000
NANOS_PER_MIN = 60_000_000_000
FOLLOW_NS = 30 * 60 * 1_000_000_000  # x185: 30-minute implication
SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # the g17 rule
TOP_PATHS = 10

# --------------------------------------------------------------- x184


def x184_phrase_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact adjacent-bigram phrase retrieval: find the corpus's most
    frequent bigram (x30 token rule; ties break lexicographic — a
    total order, so TakeOrdered is deterministic), then count per
    source the documents containing it and the total occurrences.
    Plan: tokenize once, slice/zip adjacency (the ngram_lm idiom —
    no self-join), one keyed bigram aggregate, a 1-row broadcast of
    the winning phrase, one keyed source aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'),"
            " x -> x <> '')"
        ).alias("ws"),
    ).filter(F.size("ws") >= 2)
    bigrams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.arrays_zip(
                F.expr("slice(ws, 1, size(ws) - 1)").alias("w1"),
                F.expr("slice(ws, 2, size(ws) - 1)").alias("w2"),
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "source",
        F.col("bg.w1").alias("w1"),
        F.col("bg.w2").alias("w2"),
    )
    top = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    return (
        bigrams.join(F.broadcast(top), ["w1", "w2"])
        .groupBy("source", "w1", "w2")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .select(
            "source",
            F.col("w1").alias("phrase_w1"),
            F.col("w2").alias("phrase_w2"),
            "n_docs",
            "n_occurrences",
        )
        .orderBy("source")
    )


ORACLE_X184 = """
WITH toks AS (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(text),
                                             '[^a-z0-9]+'),
                       x -> x <> '') AS ws
    FROM documents
),
big AS (
    SELECT doc_id, source, ws[u.i] AS w1, ws[u.i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(ws) - 1)) AS u(i)
    WHERE len(ws) >= 2
),
ranked AS (
    SELECT w1, w2,
           row_number() OVER (
               ORDER BY count(*) DESC, w1 ASC, w2 ASC
           ) AS rn
    FROM big GROUP BY w1, w2
),
top AS (SELECT w1, w2 FROM ranked WHERE rn = 1)
SELECT b.source, t.w1 AS phrase_w1, t.w2 AS phrase_w2,
       CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM big b JOIN top t ON t.w1 = b.w1 AND t.w2 = b.w2
GROUP BY b.source, t.w1, t.w2
ORDER BY b.source
"""

# --------------------------------------------------------------- x185


def x185_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP implication counter: per event-time day, how many
    'purchase' events were followed by an 'error' from the SAME user
    within 30 minutes (strictly after, inclusive at the window edge),
    and the floor-ppm rate. Plan: both sides filter to their type
    first (corpus shrinks before any join), the join is EQUI on
    user_id with the time band as a residual condition, and the
    per-purchase EXISTS collapses through one keyed aggregate — the
    scalable "A then B within Δ" shape."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts_nanos").alias("pt"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts_nanos").alias("et"),
    )
    joined = p.join(
        e,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("et") > F.col("pt"))
        & (F.col("et") <= F.col("pt") + F.lit(FOLLOW_NS)),
        "left",
    )
    per_p = joined.groupBy("pid", "pt").agg(
        F.max(F.col("et").isNotNull().cast("long")).alias(
            "followed"
        )
    )
    return (
        per_p.groupBy(
            F.expr(f"pt DIV {NANOS_PER_DAY}").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("followed").alias("n_followed"),
        )
        .select(
            "day",
            "n_purchases",
            "n_followed",
            F.expr(
                "(1000000 * n_followed) DIV n_purchases"
            ).alias("followed_ppm"),
        )
        .orderBy("day")
    )


ORACLE_X185 = f"""
WITH p AS (
    SELECT user_id, event_id AS pid, epoch_ns(ts) AS pt
    FROM events WHERE event_type = 'purchase'
),
e AS (
    SELECT user_id, epoch_ns(ts) AS et
    FROM events WHERE event_type = 'error'
),
per_p AS (
    SELECT p.pid, p.pt,
           CAST(max(CASE WHEN e.et IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS followed
    FROM p LEFT JOIN e
      ON e.user_id = p.user_id
     AND e.et > p.pt AND e.et <= p.pt + {FOLLOW_NS}
    GROUP BY p.pid, p.pt
)
SELECT pt // {NANOS_PER_DAY} AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(followed) AS BIGINT) AS n_followed,
       (1000000 * CAST(sum(followed) AS BIGINT))
           // CAST(count(*) AS BIGINT) AS followed_ppm
FROM per_p GROUP BY day ORDER BY day
"""

# --------------------------------------------------------------- x186


def x186_path_signatures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 session journey shapes: g17's 30-minute-gap sessions,
    each reduced to the '>'-joined order of FIRST occurrences of its
    event types (ties on the first-occurrence instant break on the
    type name — a total order both engines share), counted across
    sessions. g18's transition matrix is this table's one-step
    marginal; this is the whole journey."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts_nanos"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    is_new = (
        F.col("ts_nanos") - F.lag("ts_nanos").over(w)
        > F.lit(SESSION_GAP_NS)
    ).cast("long")
    sess = ev.withColumn(
        "__new", F.coalesce(is_new, F.lit(1))
    ).withColumn("session_id", F.sum("__new").over(run))
    firsts = sess.groupBy(
        "user_id", "session_id", "event_type"
    ).agg(F.min("ts_nanos").alias("t0"))
    sigs = (
        firsts.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(t0, event_type))), x -> x.event_type)"
                ),
            ).alias("signature")
        )
        .groupBy("signature")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return sigs.orderBy(
        F.col("n_sessions").desc(), F.col("signature").asc()
    ).limit(TOP_PATHS)


ORACLE_X186 = f"""
WITH marked AS (
    SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id,
           CASE WHEN epoch_ns(ts)
                     - lag(epoch_ns(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id)
                     > {SESSION_GAP_NS}
                  OR lag(epoch_ns(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sess AS (
    SELECT user_id, event_type, tsn,
           sum(is_new) OVER (PARTITION BY user_id
               ORDER BY tsn, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
),
firsts AS (
    SELECT user_id, session_id, event_type,
           min(tsn) AS t0
    FROM sess GROUP BY user_id, session_id, event_type
),
sigs AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>'
                      ORDER BY t0, event_type) AS signature
    FROM firsts GROUP BY user_id, session_id
),
counts AS (
    SELECT signature,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM sigs GROUP BY signature
)
SELECT signature, n_sessions FROM counts
ORDER BY n_sessions DESC, signature ASC
LIMIT {TOP_PATHS}
"""

# --------------------------------------------------------------- x187


def x187_conversion_lag_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact value-at-rank p10/p50/p90 of the x183 conversion lag
    (first view → first purchase, minute-floored): the tail the mean
    hides. Grouped-cells rank math — one keyed user aggregate, cells
    on the DISTINCT lag-minute domain (calendar-bounded: a 31-day
    window has <= 44,641 minute values at any corpus size — the x124
    allowance class for the cumulative window), value-at-rank k =
    min lag with cum >= ceil(n*k/100)."""
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
    lags = firsts.select(
        F.expr(
            "CASE WHEN v0 IS NOT NULL AND p0 IS NOT NULL"
            " AND p0 >= v0 THEN"
            f" (p0 - v0) DIV {NANOS_PER_MIN} END"
        ).alias("lag_min")
    ).filter(F.col("lag_min").isNotNull())
    cells = lags.groupBy("lag_min").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = Window.orderBy("lag_min").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = cells.withColumn(
        "cum", F.sum("c").over(w_cum)
    ).withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    return scored.agg(
        F.max("n").alias("n_converted"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 10 + 99) DIV 100"),
                F.col("lag_min"),
            )
        ).alias("p10_min"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 50 + 99) DIV 100"),
                F.col("lag_min"),
            )
        ).alias("p50_min"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 90 + 99) DIV 100"),
                F.col("lag_min"),
            )
        ).alias("p90_min"),
    )


ORACLE_X187 = f"""
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
lags AS (
    SELECT (p0 - v0) // {NANOS_PER_MIN} AS lag_min
    FROM firsts
    WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= v0
),
cells AS (
    SELECT lag_min, CAST(count(*) AS BIGINT) AS c
    FROM lags GROUP BY lag_min
),
scored AS (
    SELECT lag_min,
           CAST(sum(c) OVER (ORDER BY lag_min
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n
    FROM cells
)
SELECT max(n) AS n_converted,
       min(CASE WHEN cum >= (n * 10 + 99) // 100
                THEN lag_min END) AS p10_min,
       min(CASE WHEN cum >= (n * 50 + 99) // 100
                THEN lag_min END) AS p50_min,
       min(CASE WHEN cum >= (n * 90 + 99) // 100
                THEN lag_min END) AS p90_min
FROM scored
"""


# --------------------------------------------------------------- x200


def x200_concurrency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sweep-line session-concurrency profile: per UTC day, how many
    g17-sessions start and end, the PEAK number of simultaneously
    open sessions, and the level still open at day close. The
    capacity-planning readout (peak concurrent users is what you
    provision for) that no per-session aggregate exposes — it needs
    the classic sweep-line: ±1 boundary events in one global time
    order, concurrency = running sum of the deltas.

    Scale shape: sessionization is the g17 per-user keyed window;
    each session emits exactly TWO boundary rows (+1 at start_ns, −1
    at end_ns+1 — closed interval), so the sweep input is 2·|sessions|
    regardless of event density; the global running sum goes through
    ``operators/prefix.py::global_running_sum`` (range-partitioned
    two-phase scan — NO single-partition window; the x29 shard-packing
    mechanism). The only ordered pass over all boundaries is that
    scan; the per-day rollup is a keyed hash aggregate, and the final
    close_level cumulation runs over the ≤|days| aggregated rows (the
    bounded monitor-snapshot window class). Tie order is pinned
    deterministic: (tsn, delta, user_id, session_id) — a −1 sorts
    before a +1 at the same nanosecond, so a session ending exactly
    when another starts never inflates the peak.

    Output contract: one row per day that has at least one boundary
    event. A day a session merely spans (opened before, closes after,
    nothing starts or ends) emits no row — its whole-day level is the
    previous emitted day's close_level, which the cumulative
    close_level column carries across the gap by construction.

    .. note:: calls ``global_running_sum``, which launches a Spark
       job at call time (its totals collect) — not a lazy plan.

    Reference parity: reference pipeline.py has no interval/sweep
    analytics; engine extension family (SURVEY §2 extensions), the
    batch complement of s3's native session_window.
    """
    from m5_competition_kaggle_spark.operators.prefix import (
        global_running_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts_nanos"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    is_new = (
        F.col("ts_nanos") - F.lag("ts_nanos").over(w) > SESSION_GAP_NS
    ).cast("long")
    sess = (
        ev.withColumn("__new", F.coalesce(is_new, F.lit(1)))
        .withColumn("session_id", F.sum("__new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_nanos").alias("start_ns"),
            F.max("ts_nanos").alias("end_ns"),
        )
    )
    bounds = sess.select(
        F.col("start_ns").alias("tsn"),
        F.lit(1).cast("long").alias("delta"),
        "user_id",
        "session_id",
    ).unionAll(
        sess.select(
            (F.col("end_ns") + F.lit(1)).alias("tsn"),
            F.lit(-1).cast("long").alias("delta"),
            "user_id",
            "session_id",
        )
    )
    lev = global_running_sum(
        bounds, "delta", ("tsn", "delta", "user_id", "session_id"),
        "level",
    )
    days = (
        lev.withColumn(
            "day_idx", F.expr(f"tsn DIV {NANOS_PER_DAY}")
        )
        .groupBy("day_idx")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .alias("n_starts"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .alias("n_ends"),
            F.max("level").alias("peak_level"),
        )
    )
    # close_level over the aggregated per-day frame: <= |days| rows
    # by construction (31 here; ~36.5k for a century of telemetry) —
    # the bounded-snapshot window allowance, not a corpus-sized sort.
    wday = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        days.withColumn(
            "close_level",
            F.sum(F.col("n_starts") - F.col("n_ends")).over(wday),
        )
        .select(
            "day_idx", "n_starts", "n_ends", "peak_level",
            "close_level",
        )
        .orderBy("day_idx")
    )


ORACLE_X200 = f"""
WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_nanos
           FROM events),
o AS (
    SELECT user_id, event_id, ts_nanos,
           CASE WHEN lag(ts_nanos) OVER w IS NULL THEN 1
                WHEN ts_nanos - lag(ts_nanos) OVER w
                     > {SESSION_GAP_NS} THEN 1
                ELSE 0 END AS is_new
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_nanos, event_id)
), s AS (
    SELECT *,
           CAST(sum(is_new) OVER (PARTITION BY user_id
               ORDER BY ts_nanos, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM o
), sess AS (
    SELECT user_id, session_id,
           min(ts_nanos) AS start_ns, max(ts_nanos) AS end_ns
    FROM s GROUP BY user_id, session_id
), bounds AS (
    SELECT start_ns AS tsn, CAST(1 AS BIGINT) AS delta,
           user_id, session_id
    FROM sess
    UNION ALL
    SELECT end_ns + 1, CAST(-1 AS BIGINT), user_id, session_id
    FROM sess
), lev AS (
    SELECT tsn // {NANOS_PER_DAY} AS day_idx, delta,
           CAST(sum(delta) OVER (
               ORDER BY tsn, delta, user_id, session_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS level
    FROM bounds
), days AS (
    SELECT day_idx,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_starts,
           CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ends,
           max(level) AS peak_level
    FROM lev GROUP BY day_idx
)
SELECT day_idx, n_starts, n_ends, peak_level,
       CAST(sum(n_starts - n_ends) OVER (ORDER BY day_idx
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS close_level
FROM days ORDER BY day_idx
"""


# --------------------------------------------------------------- x208

FUNNEL_STEPS = ("view", "click", "purchase")


def x208_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: how many users progress view → click →
    purchase where each step must happen STRICTLY AFTER the previous
    step's completion time (first view, then the first click after
    that view, then the first purchase after that click). The
    classic product funnel x186's free-form signatures and x183's
    single-pair lag don't compute: a user who purchases BEFORE ever
    viewing does not convert here.

    Scale shape: one keyed min-aggregate per step plus one keyed
    join per step — the step count is a constant (3), so the plan is
    a fixed chain of hash aggregates and equi-joins, never a
    per-user array collect (a hot user's timeline can exceed memory;
    the join-chain shape is bounded per step at one row per
    qualifying user). Output: one row per funnel prefix with the
    reach count and the ppm retained from the previous step.

    Reference parity: engine extension (SURVEY §2 journey family
    beside x183/x185/x186).
    """
    ev = load_table(spark, sf_dir, "events")

    def _tag(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_reached")
        ).select(
            F.lit(idx).cast("long").alias("step_idx"),
            F.lit(name).alias("step"),
            "n_reached",
        )

    counts = _tag(ev.select("user_id").distinct(), 0, "all_users")
    prev = None
    for i, step in enumerate(FUNNEL_STEPS, start=1):
        stage = ev.filter(F.col("event_type") == step).select(
            "user_id", F.col("ts_nanos").alias("__ts")
        )
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(
                F.col("__ts") > F.col("__t_prev")
            )
        cur = stage.groupBy("user_id").agg(
            F.min("__ts").alias("__t_prev")
        )
        counts = counts.unionAll(_tag(cur, i, step))
        prev = cur
    # retained_ppm via a 4-row self-join on step_idx − 1; step 0
    # retains against itself by definition (10⁶) — but only when any
    # users exist: the oracle's step-0 row computes n/n under a
    # prev_n > 0 guard, so an EMPTY corpus must yield NULL on both
    # engines, not a fabricated 10⁶ (ADVICE r13).
    prev_counts = counts.select(
        (F.col("step_idx") + 1).alias("step_idx"),
        F.col("n_reached").alias("__prev_n"),
    )
    return (
        counts.join(prev_counts, "step_idx", "left")
        .select(
            "step_idx",
            "step",
            "n_reached",
            F.expr(
                "CASE WHEN step_idx = 0 AND n_reached > 0"
                " THEN 1000000"
                " WHEN coalesce(__prev_n, 0) > 0 THEN"
                " (1000000 * n_reached) DIV __prev_n END"
            ).alias("retained_ppm"),
        )
        .orderBy("step_idx")
    )


ORACLE_X208 = """
WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
           FROM events),
s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1
       FROM events WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
       FROM events e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
       FROM events e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
       GROUP BY e.user_id),
counts AS (
    SELECT 0 AS step_idx, 'all_users' AS step, u.n AS n_reached,
           u.n AS prev_n
    FROM u
    UNION ALL
    SELECT 1, 'view', CAST(count(*) AS BIGINT), (SELECT n FROM u)
    FROM s1
    UNION ALL
    SELECT 2, 'click', CAST(count(*) AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM s1)
    FROM s2
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM s2)
    FROM s3
)
SELECT step_idx, step, n_reached,
       CASE WHEN prev_n > 0 THEN (1000000 * n_reached) // prev_n
       END AS retained_ppm
FROM counts ORDER BY step_idx
"""


# --------------------------------------------------------------- x213

NANOS_PER_HOUR = 3_600_000_000_000
LOG_Q = 1_000_000


def x213_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact quantized-log mutual information between event type and
    hour-of-day (UTC) — the dependence certificate: MI = 0 iff a
    type's traffic is spread like the corpus's hourly shape, large
    when types own time slots. The information-theoretic summary
    UNDER x190's per-type diurnal profile (which shows each shape
    but no cross-type dependence number), built on x180's micro-nat
    kernel: L(x) = round(ln(x)·10⁶) is computed identically by both
    engines, so mi_num = Σ_h c_ah·(L(N·c_ah) − L(c_a·c_h)) is exact
    integer micro-nat·count units (terms signed; the total is ≥ 0 up
    to quantization). Products are evaluated in DOUBLE inside ln()
    (identical IEEE multiply both engines), so no int64 product
    envelope. total_mi_num (corpus sum) rides on every row — the
    x180 1-row broadcast idiom; divide by N downstream at whatever
    scale you need.

    Scale shape: one map-side-combining (type, hour) count — at most
    |types|·24 cells at any corpus size — then cell-local arithmetic
    and a |types|-row aggregate. Flat in every growth dimension.

    Reference parity: engine extension (SURVEY §2 info-theoretic
    family beside x180 entropy rate / x171 surprisal).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.expr(
            f"(ts_nanos DIV {NANOS_PER_HOUR}) % 24"
        ).alias("h"),
    )
    cah = ev.groupBy("a", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c_ah")
    )
    ca = cah.groupBy("a").agg(
        F.sum("c_ah").alias("c_a"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    ch = cah.groupBy("h").agg(F.sum("c_ah").alias("c_h"))
    n = cah.agg(F.sum("c_ah").alias("n_total"))
    terms = (
        cah.join(ca, "a")
        .join(F.broadcast(ch), "h")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "c_a",
            "n_hours",
            "n_total",
            F.expr(
                "c_ah * ("
                f" CAST(round(ln(CAST(n_total AS DOUBLE) * c_ah)"
                f" * {LOG_Q}) AS BIGINT)"
                f" - CAST(round(ln(CAST(c_a AS DOUBLE) * c_h)"
                f" * {LOG_Q}) AS BIGINT))"
            ).alias("term"),
        )
    )
    per_type = terms.groupBy(
        "a", "c_a", "n_hours", "n_total"
    ).agg(F.sum("term").alias("mi_num"))
    total = per_type.agg(
        F.sum("mi_num").alias("total_mi_num")
    )
    return (
        per_type.crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias("event_type"),
            "c_a",
            "n_hours",
            "n_total",
            "mi_num",
            "total_mi_num",
        )
        .orderBy("event_type")
    )


ORACLE_X213 = f"""
WITH cah AS (
    SELECT event_type AS a,
           (epoch_ns(ts) // {NANOS_PER_HOUR}) % 24 AS h,
           CAST(count(*) AS BIGINT) AS c_ah
    FROM events GROUP BY 1, 2
),
ca AS (
    SELECT a, CAST(sum(c_ah) AS BIGINT) AS c_a,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM cah GROUP BY a
),
ch AS (
    SELECT h, CAST(sum(c_ah) AS BIGINT) AS c_h FROM cah GROUP BY h
),
n AS (SELECT CAST(sum(c_ah) AS BIGINT) AS n_total FROM cah),
terms AS (
    SELECT cah.a, ca.c_a, ca.n_hours, n.n_total,
           cah.c_ah * (
               CAST(round(ln(CAST(n.n_total AS DOUBLE) * cah.c_ah)
                    * {LOG_Q}) AS BIGINT)
               - CAST(round(ln(CAST(ca.c_a AS DOUBLE) * ch.c_h)
                      * {LOG_Q}) AS BIGINT)) AS term
    FROM cah
    JOIN ca ON ca.a = cah.a
    JOIN ch ON ch.h = cah.h
    CROSS JOIN n
),
per_type AS (
    SELECT a, c_a, n_hours, n_total,
           CAST(sum(term) AS BIGINT) AS mi_num
    FROM terms GROUP BY a, c_a, n_hours, n_total
),
tot AS (
    SELECT CAST(sum(mi_num) AS BIGINT) AS total_mi_num FROM per_type
)
SELECT p.a AS event_type, p.c_a, p.n_hours, p.n_total, p.mi_num,
       t.total_mi_num
FROM per_type p CROSS JOIN tot t
ORDER BY event_type
"""


# --------------------------------------------------------------- x221


def x221_transition_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transition-lift (pointwise-MI) matrix of the event grammar:
    for every observed consecutive pair a→b across user timelines,
    lift_unat = L(T·c_ab) − L(r_a·s_b) in exact micro-nats — how
    over- (positive) or under- (negative) represented the transition
    is vs independence of (what users just did) × (what users do
    next). The per-CELL readout underneath the two aggregate views:
    x180's entropy rate averages these cells into per-state
    predictability, x192's implication matrix reads set-level
    co-occurrence with no sequencing. Emitted with the full count
    context (c_ab, row marginal r_a, column marginal s_b, total T)
    so a consumer can threshold by support before trusting a lift.

    The oracle recomputes L identically (the x180/x213 micro-nat
    kernel; marginal products evaluated in DOUBLE inside ln() — no
    int64 product envelope). Output rows ≤ |types|² at any corpus
    size.

    Scale shape: one per-user lag window (the certified
    transition_pairs operator), one map-side-combining (a, b)
    count, then cell-local arithmetic over ≤ |types|² cells.

    Reference parity: engine extension (SURVEY §2 journey /
    info-theoretic families beside x171/x180/x186/x192/x213).
    """
    from m5_competition_kaggle_spark.operators.markov import (
        transition_pairs,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = transition_pairs(
        ev, "user_id", "event_type", ("ts_nanos", "event_id")
    )
    cab = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    ra = cab.groupBy("a").agg(F.sum("c_ab").alias("r_a"))
    sb = cab.groupBy("b").agg(F.sum("c_ab").alias("s_b"))
    tot = cab.agg(F.sum("c_ab").alias("t_total"))
    return (
        cab.join(F.broadcast(ra), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            "r_a",
            "s_b",
            "t_total",
            F.expr(
                f"CAST(round(ln(CAST(t_total AS DOUBLE) * c_ab)"
                f" * {LOG_Q}) AS BIGINT)"
                f" - CAST(round(ln(CAST(r_a AS DOUBLE) * s_b)"
                f" * {LOG_Q}) AS BIGINT)"
            ).alias("lift_unat"),
        )
        .orderBy("a", "b")
    )


ORACLE_X221 = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
    FROM events
),
cab AS (
    SELECT a, event_type AS b, CAST(count(*) AS BIGINT) AS c_ab
    FROM ordered WHERE a IS NOT NULL GROUP BY a, event_type
),
ra AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS r_a
       FROM cab GROUP BY a),
sb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS s_b
       FROM cab GROUP BY b),
tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t_total FROM cab)
SELECT cab.a, cab.b, cab.c_ab, ra.r_a, sb.s_b, tot.t_total,
       CAST(round(ln(CAST(tot.t_total AS DOUBLE) * cab.c_ab)
            * {LOG_Q}) AS BIGINT)
       - CAST(round(ln(CAST(ra.r_a AS DOUBLE) * sb.s_b)
              * {LOG_Q}) AS BIGINT) AS lift_unat
FROM cab
JOIN ra ON ra.a = cab.a
JOIN sb ON sb.b = cab.b
CROSS JOIN tot
ORDER BY cab.a, cab.b
"""


QUERIES = {
    "x184_phrase_search": x184_phrase_search,
    "x185_followed_by": x185_followed_by,
    "x186_path_signatures": x186_path_signatures,
    "x187_conversion_lag_quantiles": x187_conversion_lag_quantiles,
    "x200_concurrency_profile": x200_concurrency_profile,
    "x208_funnel_steps": x208_funnel_steps,
    "x213_mutual_information": x213_mutual_information,
    "x221_transition_lift": x221_transition_lift,
}

ORACLES = {
    "x184_phrase_search": ORACLE_X184,
    "x185_followed_by": ORACLE_X185,
    "x186_path_signatures": ORACLE_X186,
    "x187_conversion_lag_quantiles": ORACLE_X187,
    "x200_concurrency_profile": ORACLE_X200,
    "x208_funnel_steps": ORACLE_X208,
    "x213_mutual_information": ORACLE_X213,
    "x221_transition_lift": ORACLE_X221,
}
