"""Scaled pinball loss — the M5 Uncertainty companion metric to RMSSE.

The reference repo scores the M5 Accuracy track (point forecasts,
RMSSE — see ``operators/rmsse.py``); the sibling Uncertainty track
scores QUANTILE forecasts with the scaled pinball loss (SPL). This
module closes that half of the competition's evaluation loop: per
(series, quantile level u) it scores the empirical-train-quantile
forecaster — the standard non-parametric benchmark — on a held-out
horizon, scaled by the training naive one-step absolute error exactly
as the competition defines.

Everything is integer arithmetic, so the certificate hashes:

- forecast f(u) = the k-th smallest train value with
  k = ceil(u·n/1000) = (u·n + 999) DIV 1000 (type-1 empirical
  quantile, ties broken by the period index);
- pinball at permille level u: P = u·(y−f) if y ≥ f else
  (1000−u)·(f−y)  (i.e. 1000× the classical loss);
- scale: D = Σ|y_t − y_{t−1}| over train, N = (#train − 1) diffs;
- spl_ppm = 1000 · ΣP · N DIV (n_eval · D) — 1e6 × the competition's
  SPL ratio. Fits int64 through ~sf10 on the quantized series
  (ΣP ≤ 1000·|y|·h; the 1000·ΣP·N product stays < 2^63 while
  |y| < ~4e12).

Scale design (reworked in the r14 optimization round — results are
bit-identical, the plan is not): everything per-key happens under ONE
hash exchange on the series key — the rank window, the lag diffs and
the partition-wide train stats are window functions over the same
partitioning, and the per-level quantile pick is a literal-array
``filter`` + ``explode`` against the row's own rank instead of a
(levels × keys) join back into the ranked table. The global split
period is a bounded 1-row aggregate collected to the driver (the
same A3 convergence-scalar shape the graph loops use) rather than a
broadcast-crossJoin, which removes every BroadcastNestedLoopJoin and
single-partition exchange from the main plan. Before/after at sf0.1:
3 hash + 3 single-partition exchanges, 6 broadcasts, 4 BNLJ → 2 hash
exchanges, 0 broadcasts, 0 BNLJ (see plans/r14/x140_pinball_*.txt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.blocks import materialize


def scaled_pinball_loss(
    spark: SparkSession,
    series: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    horizon: int,
    levels_permille: tuple[int, ...] = (500, 750, 900, 975),
) -> DataFrame:
    """Score the empirical-quantile forecaster per (key, level).

    ``series``: one BIGINT ``value_col`` observation per (key,
    integer ``order_col``). The last ``horizon`` periods (relative to
    the GLOBAL max period) are the evaluation window; the rest train.

    Output per (key, u): n_train, n_eval, fcst, pin_sum, scale_num,
    n_diff, spl_ppm (NULL when the train series is constant —
    scale_num = 0). Keys with no eval-window or no train rows drop
    (nothing to score / nothing to forecast from)."""
    if horizon < 1:
        raise ValueError("need horizon >= 1")
    for u in levels_permille:
        if not 1 <= int(u) <= 999:
            raise ValueError("levels are permille in [1, 999]")
    # The series feeds three consumers (the split scalar, the train
    # windows and the eval join) and Catalyst plants no ReusedExchange
    # across them — without truncation the corpus-sized source would
    # be re-scanned per branch. The series itself is calendar × key
    # bounded, so one lazy localCheckpoint (the x58/x130 lesson) caps
    # the cost at a single scan; the split scalar's collect is what
    # materializes it.
    series = materialize(series, eager=False)
    # Global split period: a bounded 1-row aggregate. Collecting it
    # (the A3 convergence-scalar shape) embeds the cut as a literal —
    # no broadcast exchange, no nested-loop join in the main plan.
    row = series.agg(F.max(order_col).alias("__m")).collect()[0]
    cut = None if row["__m"] is None else int(row["__m"]) - int(horizon)
    cut_lit = F.lit(cut).cast("long")
    train = series.filter(F.col(order_col) <= cut_lit)
    ev = series.filter(F.col(order_col) > cut_lit)

    # ONE hash exchange on the key: rank window, lag window and the
    # partition-wide train stats all share the partitioning.
    w_key = Window.partitionBy(key_col)
    levels_sql = ", ".join(
        f"CAST({int(u)} AS BIGINT)" for u in levels_permille
    )
    # k(u) = ceil(u*n/1000); a train row is the forecast for every
    # level whose k equals its own rank — a literal-array filter +
    # explode instead of a (levels × keys) join back into the ranks.
    fcst = (
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
            "__us",
            F.expr(
                f"filter(array({levels_sql}),"
                " u -> (u * n_train + 999) DIV 1000 = __rn)"
            ),
        )
        .select(
            key_col,
            F.explode("__us").alias("u"),
            "n_train", "scale_num", "n_diff",
            F.col("__y").alias("fcst"),
        )
    )
    pin = (
        ev.select(key_col, F.col(value_col).alias("__y"))
        .join(fcst, on=key_col)
        .withColumn(
            "__p",
            F.when(
                F.col("__y") >= F.col("fcst"),
                F.col("u") * (F.col("__y") - F.col("fcst")),
            ).otherwise(
                (F.lit(1000) - F.col("u"))
                * (F.col("fcst") - F.col("__y"))
            ),
        )
        .groupBy(
            key_col, "u", "n_train", "scale_num", "n_diff", "fcst"
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("__p").cast("long").alias("pin_sum"),
        )
    )
    return pin.select(
        key_col, "u", "n_train", "n_eval", "fcst", "pin_sum",
        "scale_num", "n_diff",
        F.when(
            (F.col("scale_num") > 0) & (F.col("n_eval") > 0),
            F.expr(
                "1000 * pin_sum * n_diff DIV (n_eval * scale_num)"
            ),
        ).alias("spl_ppm"),
    )
