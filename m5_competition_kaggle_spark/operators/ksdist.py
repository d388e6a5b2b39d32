"""Two-sample Kolmogorov–Smirnov distance, exact integer arithmetic.

The numeric twin of the categorical PSI drift monitor
(`operators/psi.py`): PSI needs a finite category set, KS compares two
EMPIRICAL CDFs of a numeric column directly, so it is the drift test a
feature-distribution monitor runs on continuous features (score drift,
latency drift, price drift).

Determinism contract: callers pass an already-quantized BIGINT value
column (`round(value * SCALE)` — the `operators/vector_kernel.QUANT`
precedent), so the ECDF support is integer and the statistic

    D = max_q | F_ref(q) - F_cmp(q) |

is computed as the exact integer pair

    d_num = max_q | n_cmp * cum_ref(q) - n_ref * cum_cmp(q) |
    d_den = n_ref * n_cmp

with the argmax tie broken toward the smallest q. No floats anywhere,
so the statistic itself hash-certifies against a SQL oracle.

Scale design: one shuffle to count (group, q, side) cells, then a
per-group ordered window for the running CDFs — the window partitions
by group, so a 1000-executor run distributes across groups, and within
a group the state is one row per DISTINCT quantized value, not per
input row. Overflow contract: n_ref * n_cmp (and the cross products)
must stay below 2^63 — holds to ~3e9 rows per side per group, and the
operator asserts nothing silently (the products are the output, so an
overflow would flip signs and fail certification loudly).

``ks_from_cells`` is the shared kernel: it consumes pre-aggregated
(partition, q, c_ref, c_cmp) count cells, so the per-day streaming
monitor (`streaming/ks_monitor.py`) runs the IDENTICAL statistic over
its bounded windowed aggregate — batch and stream certify against the
same arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ks_from_cells(
    cells: DataFrame, part_cols: Sequence[str]
) -> DataFrame:
    """Exact KS distance from count cells.

    ``cells``: one row per (*part_cols, q) with BIGINT counts
    ``c_ref`` / ``c_cmp`` (either may be 0; q must be unique within a
    partition). Output one row per partition present on BOTH sides:
    *part_cols, n_ref, n_cmp, q_at, d_num, d_den, ks_permille.

    NULL q cells are dropped (the ECDF convention): a NULL quantized
    value has no place on the support axis — left in, it would sort
    FIRST and silently shift every running CDF.
    """
    pcols = list(part_cols)
    cells = cells.filter(F.col("q").isNotNull())
    w_cum = (
        Window.partitionBy(*pcols)
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*pcols)
    scored = (
        cells.withColumn("cum_ref", F.sum("c_ref").over(w_cum))
        .withColumn("cum_cmp", F.sum("c_cmp").over(w_cum))
        .withColumn("n_ref", F.sum("c_ref").over(w_all))
        .withColumn("n_cmp", F.sum("c_cmp").over(w_all))
        .filter((F.col("n_ref") > 0) & (F.col("n_cmp") > 0))
        .withColumn(
            "d_num",
            F.abs(
                F.col("n_cmp") * F.col("cum_ref")
                - F.col("n_ref") * F.col("cum_cmp")
            ),
        )
    )
    w_pick = Window.partitionBy(*pcols).orderBy(
        F.col("d_num").desc(), F.col("q").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            *pcols,
            "n_ref",
            "n_cmp",
            F.col("q").alias("q_at"),
            "d_num",
            (F.col("n_ref") * F.col("n_cmp")).alias("d_den"),
            F.expr("(1000 * d_num) DIV (n_ref * n_cmp)").alias(
                "ks_permille"
            ),
        )
    )


def ks_statistic(
    ref: DataFrame,
    cmp_w: DataFrame,
    group_col: str,
    q_col: str,
) -> DataFrame:
    """Per-group exact two-sample KS distance between ``ref`` and
    ``cmp_w`` over the quantized BIGINT column ``q_col``.

    Output (one row per group present in BOTH sides): group, n_ref,
    n_cmp, q_at (smallest q attaining the max), d_num, d_den
    (= n_ref * n_cmp) and ks_permille = 1000 * d_num DIV d_den.
    One-sided groups have no defined KS distance and are dropped.
    """
    sides = ref.select(
        F.col(group_col).alias("grp"),
        F.col(q_col).alias("q"),
        F.lit(0).alias("side"),
    ).unionAll(
        cmp_w.select(
            F.col(group_col).alias("grp"),
            F.col(q_col).alias("q"),
            F.lit(1).alias("side"),
        )
    )
    cells = sides.groupBy("grp", "q").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c_cmp"),
    )
    # One row per (grp, q) after the agg, so a rows-based running sum
    # IS the ECDF numerator at q (<= semantics).
    return ks_from_cells(cells, ["grp"]).withColumnRenamed(
        "grp", group_col
    )
