"""Scaled interval (Winkler) score + empirical coverage — the
prediction-INTERVAL half of the M5 Uncertainty evaluation, companion
to the quantile pinball loss (``operators/pinball.py``).

For a central (1−α) interval [l, u] and outcome y, the Winkler score

    W = (u − l) + (2/α)·(l − y)₊ + (2/α)·(y − u)₊

rewards narrow intervals and charges 2/α per unit of miss. With α in
permille the α-multiplied score is exactly integral:

    w = α·(u − l) + 2000·(l − y)₊ + 2000·(y − u)₊       ( = α·W )

The forecaster evaluated is the standard empirical-train-quantile
interval: l = q(α/2), u = q(1 − α/2) as type-1 quantiles over the
train window (k = ceil(u·n/1000), the pinball.py convention), scored
on the last ``horizon`` periods and scaled by the naive one-step
absolute error, mirroring the competition's SPL scaling:

    sis_ppk = 1000 · Σw · n_diff DIV (α · n_eval · scale_num)

(1000× the classical scaled interval score; the α in the denominator
undoes the integral α-multiplication). Coverage is reported alongside
as cover_permille = 1000·n_in DIV n_eval — a calibrated (1−α)
interval should land near 1000−α.

Scale design mirrors pinball.py (reworked in the r14 optimization
round — results bit-identical, plan not): the series is lazily
checkpointed once, the global split period is a bounded 1-row
aggregate collected to the driver (the A3 convergence-scalar shape),
and ALL per-key work — the rank window, the lag diffs, the
partition-wide train stats and the per-alpha interval-end pick — runs
under ONE hash exchange on the key. The interval ends come from a
literal-array ``filter``/``explode`` against each train row's own
rank (role 'lo'/'hi' per alpha) folded by one keyed aggregate,
replacing the two (alphas × keys) joins back into the ranked table.
Before/after at sf0.1: 4 hash + 4 single-partition exchanges,
8 broadcasts, 5 BNLJ → 2 hash exchanges, 0 broadcasts, 0 BNLJ (see
plans/r14/x143_interval_score_*.txt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.blocks import materialize


def scaled_interval_score(
    spark: SparkSession,
    series: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    horizon: int,
    alphas_permille: tuple[int, ...] = (500, 200, 50),
) -> DataFrame:
    """Score the empirical central-interval forecaster per (key, α).

    ``series``: one BIGINT ``value_col`` observation per (key,
    integer ``order_col``). The last ``horizon`` periods (relative to
    the GLOBAL max period) are the evaluation window; the rest train.

    Output per (key, alpha): n_train, n_eval, lo, hi, n_in,
    cover_permille, w_sum, scale_num, n_diff, sis_ppk (NULL when the
    train series is constant — scale undefined)."""
    if horizon < 1:
        raise ValueError("need horizon >= 1")
    for a in alphas_permille:
        if not 2 <= int(a) <= 998:
            raise ValueError("alphas are permille in [2, 998]")
    series = materialize(series, eager=False)
    # Global split period: bounded 1-row aggregate collected to the
    # driver — embeds as a literal, so the main plan carries no
    # broadcast exchange or nested-loop join for it.
    row = series.agg(F.max(order_col).alias("__m")).collect()[0]
    cut = None if row["__m"] is None else int(row["__m"]) - int(horizon)
    cut_lit = F.lit(cut).cast("long")
    train = series.filter(F.col(order_col) <= cut_lit)
    ev = series.filter(F.col(order_col) > cut_lit)

    # interval ends as type-1 empirical quantiles at α/2, 1 − α/2;
    # permille halving keeps k integral: lo_u = α DIV 2 (α even by
    # the classical levels; odd α just shifts the lower tail by half
    # a permille), hi_u = 1000 − lo_u. k(u) = ceil(u·n/1000); a train
    # row is the 'lo' end for every alpha whose k_lo equals its own
    # rank and the 'hi' end likewise — one literal-array expansion +
    # keyed fold instead of two joins back into the ranked table.
    w_key = Window.partitionBy(key_col)
    alphas_sql = ", ".join(
        f"CAST({int(a)} AS BIGINT)" for a in alphas_permille
    )
    ends = (
        train.select(
            key_col,
            F.col(value_col).alias("__y"),
            F.col(order_col).alias("__t"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy("__y", "__t")
            ),
        )
        .withColumn("__prev", F.lag("__y", 1).over(w_key.orderBy("__t")))
        .withColumn("n_train", F.count(F.lit(1)).over(w_key))
        .withColumn(
            "scale_num",
            F.sum(F.abs(F.col("__y") - F.col("__prev")))
            .over(w_key)
            .cast("long"),
        )
        .withColumn("n_diff", F.count("__prev").over(w_key))
        .withColumn(
            "__m",
            F.expr(
                f"filter(transform(array({alphas_sql}),"
                " a -> struct(a AS alpha,"
                " ((a DIV 2) * n_train + 999) DIV 1000 = __rn AS is_lo,"
                " ((1000 - a DIV 2) * n_train + 999) DIV 1000 = __rn"
                " AS is_hi)),"
                " s -> s.is_lo OR s.is_hi)"
            ),
        )
        .select(
            key_col, "n_train", "scale_num", "n_diff", "__y",
            F.explode("__m").alias("__e"),
        )
    )
    both = ends.groupBy(
        key_col,
        F.col("__e.alpha").alias("alpha"),
        "n_train", "scale_num", "n_diff",
    ).agg(
        F.max(F.when(F.col("__e.is_lo"), F.col("__y"))).alias("lo"),
        F.max(F.when(F.col("__e.is_hi"), F.col("__y"))).alias("hi"),
    )
    scored = (
        ev.select(key_col, F.col(value_col).alias("__y"))
        .join(both, on=key_col)
        .withColumn(
            "__w",
            F.col("alpha") * (F.col("hi") - F.col("lo"))
            + F.lit(2000)
            * F.greatest(F.col("lo") - F.col("__y"), F.lit(0))
            + F.lit(2000)
            * F.greatest(F.col("__y") - F.col("hi"), F.lit(0)),
        )
        .withColumn(
            "__in",
            (
                (F.col("__y") >= F.col("lo"))
                & (F.col("__y") <= F.col("hi"))
            ).cast("long"),
        )
        .groupBy(
            key_col, "alpha", "n_train", "scale_num", "n_diff",
            "lo", "hi",
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("__in").cast("long").alias("n_in"),
            F.sum("__w").cast("long").alias("w_sum"),
        )
    )
    return scored.select(
        key_col, "alpha", "n_train", "n_eval", "lo", "hi", "n_in",
        F.expr("1000 * n_in DIV n_eval").alias("cover_permille"),
        "w_sum", "scale_num", "n_diff",
        F.when(
            (F.col("scale_num") > 0) & (F.col("n_eval") > 0),
            F.expr(
                "1000 * w_sum * n_diff"
                " DIV (alpha * n_eval * scale_num)"
            ),
        ).alias("sis_ppk"),
    )
