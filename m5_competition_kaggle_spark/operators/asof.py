"""As-of (backward) join — an operator Spark lacks natively.

Attach to every left row the most recent right row with
``right.ts <= left.ts`` for the same key (time-series point-in-time
lookup: price as of trade time, last feature snapshot before an event).

Implementation is the union + cumulative-window technique, NOT a range
join: tag both sides, union, and take the last packed right row
(``last(struct, ignorenulls=True)``) over (key, ts, side) with
rows-unbounded-preceding — one shuffle on the key, linear work, no
per-row range probe. This scales where an inequality join would
explode: a range theta-join materializes O(|L|·match_width) candidates,
the union-window is O(|L| + |R|) after one sort.

Tie rule: a right row at exactly left.ts IS visible (inclusive, matching
DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` which takes the greatest
right.ts ≤ left.ts). Callers must make the right side unique per
(key, ts) — ambiguity at equal timestamps is undefined in every as-of
engine; dedupe first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Left as-of-backward join. ``right`` must contain ``on + [ts_col] +
    value_cols`` and be unique per (on, ts_col); ``value_cols`` must not
    already be left columns (validated). Output: all left columns +
    ``value_cols``, all taken from the one nearest preceding right row
    (NULL when no right row precedes)."""
    keys = list(on)
    vals = list(value_cols)
    clash = set(vals) & set(left.columns)
    if clash:
        raise ValueError(
            f"value columns already on the left: {sorted(clash)}"
        )

    # All matched fields ride ONE struct so they provably come from the
    # SAME right row: a per-column last(..., ignorenulls=True) would,
    # for a nearest right row with a NULL in one value column, take that
    # column from an OLDER right row (DuckDB's ASOF JOIN returns NULL).
    r_side = right.select(
        *keys,
        F.col(ts_col),
        F.lit(0).alias("__side"),  # right sorts BEFORE left at equal ts
        F.struct(*[F.col(c) for c in vals]).alias("__pack"),
    )
    l_side = left.withColumn("__side", F.lit(1)).withColumn(
        "__pack", F.lit(None).cast(r_side.schema["__pack"].dataType)
    )
    for c in left.columns:
        if c not in r_side.columns:
            r_side = r_side.withColumn(c, F.lit(None).cast(l_side.schema[c].dataType))
    unioned = l_side.unionByName(r_side)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *[F.col(c) for c in left.columns],
        F.col("__side"),
        F.last("__pack", ignorenulls=True).over(w).alias("__m"),
    ).filter(F.col("__side") == 1)
    return filled.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(c) for c in vals],
    )
