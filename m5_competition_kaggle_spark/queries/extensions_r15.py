"""Round-15 queue — STAGED UNREGISTERED, three rounds ahead (the r12
window plan is fixed; r13/r14 queues are staged; see
queries/__init__.py). Locally certified by ``tests/test_r15_queue.py``
with the same Spark-vs-DuckDB differential as
``scripts/check_oracle.py``.

- x176 inter-arrival burstiness: exact-integer CV² of the
  minute-floored gaps between consecutive events per type — the
  temporal-regularity diagnostic (Poisson arrivals → CV² ≈ 1, bursts
  → CV² >> 1, a scheduler's heartbeat → CV² ≈ 0) beside the
  mass-seasonality readouts (x115/x170) which see WHEN volume moves,
  not how clumpy arrivals are.
- x177 duplication profile: cluster-SIZE histogram of the LSH
  near-dup graph (x2 pairs → x24 components) with the Theil–Sen
  log-log tail slope (the x167 kernel) — one number saying whether
  duplication is a few huge template families (slope shallow /
  head-heavy) or broad pairwise noise, the planning readout for how
  much a dedup pass will shrink the corpus.
- x178 centroid drift: per-label quantized-centroid displacement
  between the even- and odd-id halves of the embedding corpus —
  permille-floored centroids (quantize-BEFORE-square, the x175
  trick, so int64 holds at any corpus size), squared displacement
  against the even half's squared norm. The label-stability audit
  under the x39 centroids and x142 silhouette.
- x179 top-k churn: day-over-day Jaccard of the top-20 users by
  event count — rank-set stability (leaderboard churn), the
  set-level companion to x150's graded RBO which compares two
  rankings of ONE day, not the trajectory.
- s27 streaming Gini trajectory (``streaming/gini_monitor.py``):
  per-day value-concentration Gini assembled from the s18 KS
  monitor's EXISTING calendar-bounded cells — the third readout on
  the one distribution-monitor kernel (KS: worst-point drift, CvM:
  broad drift, Gini: reference-free concentration).
- x205 embedding health (added r13 second session): per-dimension
  exact integer moments of the certified 1e-3 quantization plus
  dead-dimension flags (min == max) — the embedding-QA certificate
  before ANN indexing, beside x178's drift and x198's truncation
  recall; one posexplode → one 64-group aggregate, 64 rows at any
  corpus size.
- x212 JL distortion (added r14): Johnson–Lindenstrauss 64→8 ±1
  projection distance-preservation certificate — ratio histogram of
  projected vs original squared distance over the consecutive-id
  pair sample, sign table derived from the portable h64 so both
  engines project identically; the go/no-go for a low-dim ANN
  pre-filter. Exact integers, ≤ 13 output rows at any scale.
- x218 FK integrity (added r14): referential-integrity certificate
  over all 7 declared FK edges of the relational catalog — per
  edge, orphan row/key mass and NULL-key mass from |keys|-sized
  bookkeeping (per-key child counts ⋈ distinct parent keys), the
  schema-wide sweep beside x204's single-edge cardinality audit;
  exactly 7 rows at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.sources.catalog import load_table

NANOS_PER_DAY = 86_400_000_000_000
NANOS_PER_MIN = 60_000_000_000
LOG_Q = 1_000_000
TOP_K = 20  # x179 daily leaderboard depth

# --------------------------------------------------------------- x176


def x176_interarrival_cv2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact inter-arrival burstiness per event type: gaps between
    consecutive events (timeline order (ts_nanos, event_id) — unique,
    so lag() is deterministic), floored to whole minutes so every
    moment below is int64-exact: var_num = n·Σg² − (Σg)² and
    cv2_ppm = 10⁶·var_num DIV (Σg)² — the dimensionless CV² (var/mean²).
    The scalar products compute in DECIMAL(38,0) / HUGEINT (r12: the
    100× events probe measured 10⁶·n·Σg² past int64 at an 8.5-year
    span, exactly as the previous int64 contract predicted — the
    moments Σg and Σg² stay int64-exact by the span bound, and the
    final var_num / cv2_ppm quotients cast back to BIGINT, pushing
    the envelope from n ≲ 10⁷ monthly gaps to var_num < 2^63, i.e.
    n·σ ≲ 3·10⁹ gap-minutes)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts_nanos",
        "event_id",
        F.expr(f"ts_nanos DIV {NANOS_PER_DAY}").alias("__day"),
    )
    # Day-cell decomposition (r13, closing the r12 probe's 18.2×
    # hot-key residual): the single per-key ordered walk — whose
    # parallelism is capped at |event_type| and whose partitions grow
    # with the full stream — splits EXACTLY into (a) intra-day gaps
    # under a (key, day)-partitioned window (partition count grows
    # with the calendar → parallelism scales with span) and (b) one
    # cross-day boundary gap per consecutive pair of NONEMPTY days,
    # from a lag over the per-(key, day) first/last timestamps — a
    # |keys|×|days| calendar-bounded cell table (the s30/x193 class).
    # The gap multiset is identical by construction (every consecutive
    # pair is either same-day or spans a day boundary; empty days
    # collapse into the boundary lag), so the certified output is
    # bit-identical to the single-walk form — s30's pattern of fixing
    # the scale path with certified code rather than a disclosure.
    w_day = Window.partitionBy("event_type", "__day").orderBy(
        "ts_nanos", "event_id"
    )
    # long - long stays long: no double round-trip, so the gap is
    # exact past 2^53 ns where a float detour would quietly round
    intra = ev.select(
        "event_type",
        (F.col("ts_nanos") - F.lag("ts_nanos").over(w_day)).alias(
            "__d"
        ),
    )
    cells = ev.groupBy("event_type", "__day").agg(
        F.min("ts_nanos").alias("__first_ts"),
        F.max("ts_nanos").alias("__last_ts"),
    )
    w_cells = Window.partitionBy("event_type").orderBy("__day")
    cross = cells.select(
        "event_type",
        (
            F.col("__first_ts") - F.lag("__last_ts").over(w_cells)
        ).alias("__d"),
    )
    gaps = (
        intra.unionByName(cross)
        .filter(F.col("__d").isNotNull())
        .select(
            "event_type",
            F.expr(f"__d DIV {NANOS_PER_MIN}").alias("g"),
        )
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("g").alias("sum_gap_min"),
            F.sum(F.col("g") * F.col("g")).alias("sum_gap2"),
        )
        .select(
            "event_type",
            "n_gaps",
            "sum_gap_min",
            # Loud-envelope guards (r12 ADVICE): three breach paths.
            # (1) product past DECIMAL(38,0): ANSI raises on its own
            # (this session runs ANSI); (2) quotient past int64:
            # decimal DIV silently WRAPS to a long EVEN UNDER ANSI
            # (measured: int64max·10⁶ DIV 1 → −10⁶) — cv2_ppm's abs()
            # pre-check raises before the wrapping DIV; var_num has no
            # DIV, its CAST raises under ANSI; (3) under a non-ANSI
            # deployment the casts NULL silently — COALESCE turns
            # that NULL into raise_error. The DuckDB twin's HUGEINT
            # raises on its own, so a breach fails loudly on BOTH
            # engines instead of diverging as wrong-value/null-vs-
            # error. Variance is nonnegative, so cv2_ppm's pre-check
            # needs no abs() on the numerator.
            F.expr(
                "COALESCE(CAST("
                "CAST(n_gaps AS DECIMAL(38,0)) * sum_gap2"
                " - CAST(sum_gap_min AS DECIMAL(38,0))"
                "   * sum_gap_min AS BIGINT), CAST(raise_error("
                "'x176: var_num past DECIMAL(38,0)/int64 envelope')"
                " AS BIGINT))"
            ).alias("var_num"),
            F.expr("sum_gap_min DIV n_gaps").alias("mean_gap_min"),
            F.expr(
                "CASE WHEN sum_gap_min > 0 THEN "
                "CASE WHEN 1000000 * (CAST(n_gaps AS DECIMAL(38,0))"
                "   * sum_gap2 - CAST(sum_gap_min AS DECIMAL(38,0))"
                "     * sum_gap_min)"
                " > CAST(9223372036854775807 AS DECIMAL(38,0))"
                "   * (CAST(sum_gap_min AS DECIMAL(38,0))"
                "      * sum_gap_min)"
                " THEN CAST(raise_error("
                "'x176: cv2_ppm quotient past int64 envelope')"
                " AS BIGINT)"
                " ELSE COALESCE(CAST("
                " (1000000 * (CAST(n_gaps AS DECIMAL(38,0)) * sum_gap2"
                "   - CAST(sum_gap_min AS DECIMAL(38,0))"
                "     * sum_gap_min))"
                " DIV (CAST(sum_gap_min AS DECIMAL(38,0))"
                "      * sum_gap_min) AS BIGINT), CAST(raise_error("
                "'x176: cv2_ppm past DECIMAL(38,0)/int64 envelope')"
                " AS BIGINT)) END END"
            ).alias("cv2_ppm"),
        )
        .orderBy("event_type")
    )


ORACLE_X176 = f"""
WITH ordered AS (
    SELECT event_type,
           epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
           ) AS d
    FROM events
),
gaps AS (
    SELECT event_type, d // {NANOS_PER_MIN} AS g
    FROM ordered WHERE d IS NOT NULL
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(g) AS BIGINT) AS sum_gap_min,
           CAST(sum(g * g) AS BIGINT) AS sum_gap2
    FROM gaps GROUP BY event_type
)
SELECT event_type, n_gaps, sum_gap_min,
       CAST(CAST(n_gaps AS HUGEINT) * sum_gap2
            - CAST(sum_gap_min AS HUGEINT) * sum_gap_min
            AS BIGINT) AS var_num,
       sum_gap_min // n_gaps AS mean_gap_min,
       CASE WHEN sum_gap_min > 0 THEN CAST(
           (1000000 * (CAST(n_gaps AS HUGEINT) * sum_gap2
             - CAST(sum_gap_min AS HUGEINT) * sum_gap_min))
           // (CAST(sum_gap_min AS HUGEINT) * sum_gap_min)
           AS BIGINT) END AS cv2_ppm
FROM agg ORDER BY event_type
"""

# --------------------------------------------------------------- x177


def x177_dup_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup cluster-size histogram with the heavy-tail slope:
    LSH-verified pairs (x2's operator at the certified 16/4/0.8
    config) → connected components (x24's kernel) → one row per
    cluster size s >= 2 with its cluster count, plus the x167-style
    Theil–Sen slope of L(n_clusters) vs L(size) replicated onto every
    row (NULL when fewer than two distinct sizes — the left join
    keeps the histogram either way). A slope near -2..-3 is the
    power-law tail natural template duplication shows; a single giant
    size bin is one template family."""
    from m5_competition_kaggle_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from m5_competition_kaggle_spark.operators.graph import (
        dedup_clusters,
    )
    from m5_competition_kaggle_spark.operators.theil_sen import (
        theil_sen_slope,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(pairs)
    hist = (
        clusters.filter(F.col("is_canonical"))
        .groupBy(F.col("cluster_size").alias("size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )
    pts = hist.select(
        F.lit("corpus").alias("corpus"),
        F.expr(
            f"CAST(round(ln(size) * {LOG_Q}) AS BIGINT)"
        ).alias("lt"),
        F.expr(
            f"CAST(round(ln(n_clusters) * {LOG_Q}) AS BIGINT)"
        ).alias("ly"),
    )
    slope = theil_sen_slope(pts, "corpus", "lt", "ly").select(
        F.col("n").alias("n_sizes"),
        F.col("slope_ppm").alias("tail_slope_ppm"),
    )
    return (
        hist.join(F.broadcast(slope), F.lit(True), "left")
        .select("size", "n_clusters", "n_sizes", "tail_slope_ppm")
        .orderBy("size")
    )


def _dup_profile_oracle() -> str:
    from m5_competition_kaggle_spark.queries.extensions import (
        _minhash_verified_ctes,
    )

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
comp AS (SELECT node, min(reached) AS cluster_id
         FROM reach GROUP BY node),
csizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
           FROM comp GROUP BY cluster_id),
hist AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM csizes GROUP BY size),
pts AS (
    SELECT CAST(round(ln(size) * {LOG_Q}) AS BIGINT) AS lt,
           CAST(round(ln(n_clusters) * {LOG_Q}) AS BIGINT) AS ly
    FROM hist
),
tpairs AS (
    SELECT a.lt AS ti, b.lt AS tj,
           b.ly - a.ly AS dy, b.lt - a.lt AS dx
    FROM pts a JOIN pts b ON a.lt < b.lt
),
ranked AS (
    SELECT dy, dx,
           row_number() OVER (
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
                        ti ASC, tj ASC
           ) AS r,
           CAST(count(*) OVER () AS BIGINT) AS n_pairs
    FROM tpairs
),
n_pts AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
slope AS (
    SELECT p.n AS n_sizes,
           CASE WHEN r.dy >= 0 THEN 1000000 * r.dy // r.dx
                ELSE -((1000000 * (-r.dy)) // r.dx)
           END AS tail_slope_ppm
    FROM n_pts p CROSS JOIN ranked r
    WHERE r.r = (r.n_pairs + 1) // 2
)
SELECT h.size, h.n_clusters, s.n_sizes, s.tail_slope_ppm
FROM hist h LEFT JOIN slope s ON TRUE
ORDER BY h.size
"""


# --------------------------------------------------------------- x178


def x178_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid displacement between the even- and odd-id
    halves of the embedding corpus. Centroids are floored to integer
    permille per dimension BEFORE squaring (sign-handled truncating
    division, so both engines agree on negatives): c_i = trunc(1000 ·
    sum_q_i / n) — magnitudes bounded by the value domain, never the
    corpus, so the squared displacement Σ(ce_i − co_i)² and squared
    norm stay int64 at any scale (the x175 quantize-before-square
    trick). ratio_ppm = 10⁶·shift_sq DIV norm_sq_even. Labels missing
    a half drop (no drift is defined for them)."""
    from m5_competition_kaggle_spark.operators.centroid import (
        centroid_sums,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sign_div = (
        "CASE WHEN {s} >= 0 THEN (1000 * {s}) DIV {n}"
        " ELSE -(((-{s}) * 1000) DIV {n}) END"
    )
    even = centroid_sums(
        emb.filter(F.col("vec_id") % 2 == 0)
    ).select(
        "label",
        "pos",
        F.expr(
            sign_div.format(s="sum_q", n="n_vectors")
        ).alias("ce"),
        F.col("n_vectors").alias("n_even"),
    )
    odd = centroid_sums(
        emb.filter(F.col("vec_id") % 2 == 1)
    ).select(
        "label",
        "pos",
        F.expr(
            sign_div.format(s="sum_q", n="n_vectors")
        ).alias("co"),
        F.col("n_vectors").alias("n_odd"),
    )
    return (
        even.join(odd, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.max("n_even").alias("n_even"),
            F.max("n_odd").alias("n_odd"),
            F.sum(
                (F.col("ce") - F.col("co"))
                * (F.col("ce") - F.col("co"))
            ).alias("shift_sq"),
            F.sum(F.col("ce") * F.col("ce")).alias("norm_sq_even"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_even",
            "n_odd",
            "shift_sq",
            "norm_sq_even",
            F.expr(
                "CASE WHEN norm_sq_even > 0 THEN"
                " (1000000 * shift_sq) DIV norm_sq_even END"
            ).alias("ratio_ppm"),
        )
        .orderBy("label")
    )


ORACLE_X178 = """
WITH comp AS (
    SELECT label, vec_id % 2 AS half, i,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                AS BIGINT) AS q
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS t(i)
),
cs AS (
    SELECT label, half, i,
           CAST(sum(q) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM comp GROUP BY label, half, i
),
flo AS (
    SELECT label, half, i, n,
           CASE WHEN s >= 0 THEN (1000 * s) // n
                ELSE -(((-s) * 1000) // n) END AS c
    FROM cs
),
joined AS (
    SELECT e.label, e.c AS ce, o.c AS co,
           e.n AS n_even, o.n AS n_odd
    FROM flo e JOIN flo o
      ON o.label = e.label AND o.i = e.i
     AND e.half = 0 AND o.half = 1
),
agg AS (
    SELECT CAST(label AS BIGINT) AS label,
           CAST(max(n_even) AS BIGINT) AS n_even,
           CAST(max(n_odd) AS BIGINT) AS n_odd,
           CAST(sum((ce - co) * (ce - co)) AS BIGINT) AS shift_sq,
           CAST(sum(ce * ce) AS BIGINT) AS norm_sq_even
    FROM joined GROUP BY label
)
SELECT label, n_even, n_odd, shift_sq, norm_sq_even,
       CASE WHEN norm_sq_even > 0 THEN
           (1000000 * shift_sq) // norm_sq_even END AS ratio_ppm
FROM agg ORDER BY label
"""

# --------------------------------------------------------------- x179


def x179_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day stability of the top-20 users by event count:
    for each consecutive day pair, the exact Jaccard (permille) of
    the two leaderboards. Rank ties break on user_id, so both
    leaderboards are deterministic sets; days at the leaderboard
    floor (< 20 active users) compare whatever they have. The per-day
    window is keyed by day — never a global sort — and the
    consecutive-day join is a keyed equi join on the shifted day."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts_nanos DIV {NANOS_PER_DAY}").alias("day"),
        "user_id",
    )
    counts = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("day").orderBy(
        F.col("c").desc(), F.col("user_id").asc()
    )
    tops = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("day", "user_id")
    )
    sizes = tops.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    base = (
        sizes.select(
            (F.col("day") + 1).alias("day"),
            F.col("n").alias("n_prev"),
        )
        .join(sizes, "day")
        .select("day", "n_prev", F.col("n").alias("n_cur"))
    )
    inter = (
        tops.select(
            (F.col("day") + 1).alias("day"), "user_id"
        )
        .join(tops, ["day", "user_id"], "leftsemi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        base.join(inter, "day", "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .select(
            "day",
            "n_prev",
            "n_cur",
            "n_common",
            F.expr(
                "(1000 * n_common)"
                " DIV (n_prev + n_cur - n_common)"
            ).alias("jaccard_permille"),
        )
        .orderBy("day")
    )


ORACLE_X179 = f"""
WITH counts AS (
    SELECT epoch_ns(ts) // {NANOS_PER_DAY} AS day, user_id,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
tops AS (
    SELECT day, user_id
    FROM (SELECT day, user_id,
                 row_number() OVER (PARTITION BY day
                     ORDER BY c DESC, user_id ASC) AS rn
          FROM counts)
    WHERE rn <= {TOP_K}
),
sizes AS (
    SELECT day, CAST(count(*) AS BIGINT) AS n
    FROM tops GROUP BY day
),
base AS (
    SELECT p.day + 1 AS day, p.n AS n_prev, c.n AS n_cur
    FROM sizes p JOIN sizes c ON c.day = p.day + 1
),
inter AS (
    SELECT p.day + 1 AS day, CAST(count(*) AS BIGINT) AS n_common
    FROM tops p JOIN tops c
      ON c.day = p.day + 1 AND c.user_id = p.user_id
    GROUP BY p.day + 1
)
SELECT b.day, b.n_prev, b.n_cur,
       coalesce(i.n_common, 0) AS n_common,
       (1000 * coalesce(i.n_common, 0))
           // (b.n_prev + b.n_cur - coalesce(i.n_common, 0))
           AS jaccard_permille
FROM base b LEFT JOIN inter i ON i.day = b.day
ORDER BY b.day
"""

# ---------------------------------------------------------------- s27


def s27_stream_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming Gini trajectory
    (``streaming/gini_monitor.py``): per-event-time-day exact Gini of
    that day's integer-quantized value distribution — assembled from
    the SAME calendar-bounded (day, bucket) cells the s18/s26
    monitors maintain (one streaming kernel, three readouts; stream
    == batch proven in tests/test_r15_queue.py through the shared
    ``gini_day_table`` assembly)."""
    from m5_competition_kaggle_spark.streaming.gini_monitor import (
        gini_day_table,
    )
    from m5_competition_kaggle_spark.streaming.ks_monitor import (
        day_bucket_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return gini_day_table(day_bucket_counts(ev)).orderBy("day")


ORACLE_S27 = """
WITH cells AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(round(value) AS BIGINT) AS q,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
scored AS (
    SELECT day, q, c,
           CAST(sum(c) OVER (PARTITION BY day ORDER BY q
                ROWS UNBOUNDED PRECEDING) AS BIGINT) - c AS a_prev
    FROM cells
),
agg AS (
    SELECT day,
           CAST(sum(c) AS BIGINT) AS n_members,
           CAST(sum(q * c) AS BIGINT) AS total,
           CAST(max(q) AS BIGINT) AS max_value,
           CAST(sum(q * (c * a_prev + (c * (c + 1)) // 2))
                AS BIGINT) AS rank_mass
    FROM scored GROUP BY day
)
SELECT day, n_members, total, max_value,
       CASE WHEN total > 0 THEN
           (1000000 * max_value) // total END AS top_share_ppm,
       rank_mass,
       CASE WHEN total > 0 THEN
           (1000000 * (2 * rank_mass - (n_members + 1) * total))
           // (n_members * total) END AS gini_ppm
FROM agg ORDER BY day
"""


# --------------------------------------------------------------- x205

EMB_DIM = 64  # the fixture contract (x9/x198 oracles pin the same)


def x205_embedding_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension embedding-health audit: the QA certificate an
    embedding column should pass before ANN indexing or training —
    for each of the 64 dimensions, exact integer moments of the
    certified 1e-3 quantization (the same quantize_expr the ANN
    kernels rank with) plus a dead-dimension flag (min == max: the
    dimension carries NO information — a truncation/export bug the
    x198 recall audit would only catch after the damage).

    One posexplode → one keyed 64-group aggregate: map-side combine
    absorbs the corpus; output is exactly 64 rows at any scale.
    sumsq_q widens through DECIMAL(38,0) (q ≤ 10³-scale, q² ≤ 10⁶;
    the cast back to BIGINT raises loudly under ANSI past ~10¹⁸ —
    the 10¹² -vector envelope, far beyond one corpus). mean is left
    as (sum_q, n) rational — per-dim means are near zero and a
    truncating DIV would shed the signal; downstream divides at
    whatever scale it needs.

    Reference parity: no embedding surface in the reference; engine
    extension (SURVEY §2 ANN/embedding family beside x9/x178/x198).
    """
    from m5_competition_kaggle_spark.operators.similarity import (
        quantize_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.posexplode(quantize_expr("embedding")).alias("dim", "q")
    )
    dec = "decimal(38,0)"
    return (
        q.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sum_q"),
            F.sum((F.col("q") * F.col("q")).cast(dec))
            .cast("long")
            .alias("sumsq_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .select(
            "dim",
            "n",
            "sum_q",
            "sumsq_q",
            "min_q",
            "max_q",
            F.when(F.col("min_q") == F.col("max_q"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_dead"),
        )
        .orderBy("dim")
    )


ORACLE_X205 = f"""
WITH q AS (
    SELECT i - 1 AS dim,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                AS BIGINT) AS q
    FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
)
SELECT dim,
       count(*) AS n,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(q * q) AS BIGINT) AS sumsq_q,
       min(q) AS min_q,
       max(q) AS max_q,
       CAST(CASE WHEN min(q) = max(q) THEN 1 ELSE 0 END
            AS BIGINT) AS is_dead
FROM q GROUP BY dim ORDER BY dim
"""


# --------------------------------------------------------------- x212

# ±1 Rademacher sign table for the 64→8 Johnson–Lindenstrauss
# projection: sign(i→j) = +1 iff h64("jl:i:j") is even — derived from
# the engine's portable hash (functions/text.py h64_py), so the SQL
# oracle embeds the SAME 512 literals and both engines project
# identically. Generated at import; deterministic, no floats.
JL_OUT_DIMS = 8
JL_IN_DIMS = 64


def _jl_signs() -> tuple[tuple[int, ...], ...]:
    from m5_competition_kaggle_spark.functions.text import h64_py

    return tuple(
        tuple(
            1 if h64_py(f"jl:{i}:{j}") % 2 == 0 else -1
            for i in range(JL_IN_DIMS)
        )
        for j in range(JL_OUT_DIMS)
    )


_JL_SIGNS = _jl_signs()


def _jl_proj_cols(q_col: str) -> list:
    """Eight projection expressions p_j = Σ_i sign(i→j)·q_i over a
    quantized array column — literal-array ``int_dot`` products,
    JVM-side arithmetic (no UDF)."""
    from m5_competition_kaggle_spark.operators.vector_kernel import int_dot

    return [
        int_dot(q_col, "array({})".format(
            ", ".join(f"{s}L" for s in signs))).alias(f"p{j}")
        for j, signs in enumerate(_JL_SIGNS)
    ]


def x212_jl_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation certificate: project
    the 64-dim quantized embeddings onto 8 Rademacher (±1) dimensions
    and profile, over the deterministic consecutive-id pair sample,
    the ratio of projected to original squared distance —
    E[‖Pa−Pb‖²] = 8·‖a−b‖² for ±1 signs, so ratio_ppm concentrates
    at 10⁶. The go/no-go audit for using a cheap low-dim pre-filter
    in front of the exact ANN kernels (a skewed histogram means the
    projection is NOT preserving this corpus's geometry — e.g. mass
    concentrated on a few dims the sign table cancels).

    Exact integers end-to-end: quantized components (the certified
    1e-3 grid), dot-product identity d64 = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩,
    projections are literal-array dot products, and the ratio widens
    through DECIMAL(38,0). Identical-vector pairs (d64 = 0) are
    excluded (ratio undefined); the histogram buckets ratio_ppm in
    quarter-steps capped at 12 (≥ 3×), so the output is ≤ 13 rows at
    any corpus size.

    Scale shape: one narrow projection scan (8 literal dots per row),
    one self-join on vec_id+1 (equi-join, co-partitioned by id), one
    bounded-bucket aggregate. No all-pairs anywhere — the pair set is
    O(n).

    Reference parity: engine extension (SURVEY §2 ANN/embedding
    family beside x198 truncation recall and x205 health).
    """
    from m5_competition_kaggle_spark.operators.vector_kernel import (
        int_dot,
        quantize_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_expr("embedding").alias("__q")
    )
    proj = emb.select(
        "vec_id",
        int_dot("__q", "__q").alias("ipself"),
        "__q",
        *_jl_proj_cols("__q"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("ipself").alias("ipb"),
        F.col("__q").alias("__qb"),
        *[
            F.col(f"p{j}").alias(f"b{j}")
            for j in range(JL_OUT_DIMS)
        ],
    )
    pairs = proj.join(b, "vec_id").select(
        F.col("ipself").alias("ipa"),
        "ipb",
        int_dot("__q", "__qb").alias("ipab"),
        sum(
            (
                (F.col(f"p{j}") - F.col(f"b{j}"))
                * (F.col(f"p{j}") - F.col(f"b{j}"))
                for j in range(JL_OUT_DIMS)
            ),
            F.lit(0).cast("long"),
        ).alias("d8"),
    )
    d = pairs.select(
        (
            F.col("ipa") - 2 * F.col("ipab") + F.col("ipb")
        ).alias("d64"),
        "d8",
    ).filter(F.col("d64") > 0)
    ratio = d.select(
        "d64",
        "d8",
        F.expr(
            "least(CAST((CAST(1000000 AS DECIMAL(38,0)) * d8)"
            f" DIV ({JL_OUT_DIMS} * CAST(d64 AS DECIMAL(38,0)))"
            " AS BIGINT) DIV 250000, 12L)"
        ).alias("bucket"),
    )
    return (
        ratio.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("d64").alias("sum_d64"),
            F.sum("d8").alias("sum_d8"),
        )
        .orderBy("bucket")
    )


def _x212_oracle() -> str:
    sign_lists = {
        j: "[{}]".format(", ".join(str(s) for s in signs))
        for j, signs in enumerate(_JL_SIGNS)
    }
    proj_cols = ",\n           ".join(
        f"CAST(list_inner_product(qv, {sign_lists[j]})"
        f" AS BIGINT) AS p{j}"
        for j in range(JL_OUT_DIMS)
    )
    d8 = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})"
        for j in range(JL_OUT_DIMS)
    )
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS qv
    FROM embeddings
),
proj AS (
    SELECT vec_id,
           CAST(list_inner_product(qv, qv) AS BIGINT) AS ipself,
           qv,
           {proj_cols}
    FROM q
),
pairs AS (
    SELECT a.ipself AS ipa, b.ipself AS ipb,
           CAST(list_inner_product(a.qv, b.qv) AS BIGINT) AS ipab,
           {d8} AS d8
    FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
),
d AS (
    SELECT ipa - 2 * ipab + ipb AS d64, d8 FROM pairs
    WHERE ipa - 2 * ipab + ipb > 0
)
SELECT least(CAST((1000000 * CAST(d8 AS HUGEINT))
                  // ({JL_OUT_DIMS} * CAST(d64 AS HUGEINT))
                  AS BIGINT) // 250000, 12) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(d64) AS BIGINT) AS sum_d64,
       CAST(sum(d8) AS BIGINT) AS sum_d8
FROM d GROUP BY 1 ORDER BY bucket
"""


# --------------------------------------------------------------- x218

# Every declared foreign-key edge of the TPC-H-shaped catalog:
# (child table, child key, parent table, parent key).
_FK_EDGES = (
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
)


def x218_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity certificate over EVERY declared FK edge
    of the relational catalog: per edge, the child row/key counts,
    the orphan mass (child keys absent from the parent — broken
    joins waiting to happen) and NULL-key mass. The whole-schema
    sweep x204's single-edge cardinality audit doesn't attempt —
    the first check a migration or ingest runs, and the one that
    explains a sudden fan-out collapse (orphans silently vanish
    through every inner join downstream).

    Scale shape: per edge, one map-side-combining per-key child
    count (|keys|-sized, never row-sized), one distinct on the
    parent key, one keyed left join over the two key tables, one
    1-row aggregate — the x204 bookkeeping argument applied
    schema-wide; output is exactly |edges| = 7 rows at any scale.
    NULL child keys never reach the join (they'd false-orphan);
    they are counted on their own column.

    Reference parity: engine extension (SURVEY §2 relational-audit
    family beside x204/x209/x210).
    """
    outs = []
    for child, ck, parent, pk in _FK_EDGES:
        keyed = (
            load_table(spark, sf_dir, child)
            .select(F.col(ck).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        par = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        j = keyed.join(par, "k", "left")
        orphan = F.col("__hit").isNull() & F.col("k").isNotNull()
        outs.append(
            j.agg(
                F.sum("cnt").alias("n_child_rows"),
                F.count(F.lit(1)).cast("long").alias("n_child_keys"),
                F.sum(
                    F.when(orphan, F.col("cnt")).otherwise(0)
                ).alias("n_orphan_rows"),
                F.sum(F.when(orphan, 1).otherwise(0))
                .cast("long")
                .alias("n_orphan_keys"),
                F.sum(
                    F.when(F.col("k").isNull(), F.col("cnt"))
                    .otherwise(0)
                ).alias("n_null_rows"),
            ).select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("edge"),
                "n_child_rows",
                "n_child_keys",
                "n_orphan_rows",
                "n_orphan_keys",
                "n_null_rows",
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    return result.orderBy("edge")


def _x218_oracle() -> str:
    parts = []
    for child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{child}.{ck}->{parent}.{pk}' AS edge,
       CAST(sum(cnt) AS BIGINT) AS n_child_rows,
       CAST(count(*) AS BIGINT) AS n_child_keys,
       CAST(sum(CASE WHEN p.k IS NULL AND keyed.k IS NOT NULL
                THEN cnt ELSE 0 END) AS BIGINT) AS n_orphan_rows,
       CAST(sum(CASE WHEN p.k IS NULL AND keyed.k IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       CAST(sum(CASE WHEN keyed.k IS NULL THEN cnt ELSE 0 END)
            AS BIGINT) AS n_null_rows
FROM (SELECT {ck} AS k, CAST(count(*) AS BIGINT) AS cnt
      FROM {child} GROUP BY 1) keyed
LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p
    ON p.k = keyed.k""")
    return (
        "\nUNION ALL\n".join(parts) + "\nORDER BY edge"
    )


QUERIES = {
    "x176_interarrival_cv2": x176_interarrival_cv2,
    "x177_dup_cluster_profile": x177_dup_cluster_profile,
    "x178_centroid_drift": x178_centroid_drift,
    "x179_topk_churn": x179_topk_churn,
    "s27_stream_gini": s27_stream_gini,
    "x205_embedding_health": x205_embedding_health,
    "x212_jl_distortion": x212_jl_distortion,
    "x218_fk_integrity": x218_fk_integrity,
}

ORACLES = {
    "x176_interarrival_cv2": ORACLE_X176,
    "x177_dup_cluster_profile": _dup_profile_oracle(),
    "x178_centroid_drift": ORACLE_X178,
    "x179_topk_churn": ORACLE_X179,
    "s27_stream_gini": ORACLE_S27,
    "x205_embedding_health": ORACLE_X205,
    "x212_jl_distortion": _x212_oracle(),
    "x218_fk_integrity": _x218_oracle(),
}
