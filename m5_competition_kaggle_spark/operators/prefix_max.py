"""Scalable global running MAX — the order-statistics sibling of
``operators/prefix.py::global_running_sum``.

Same two-phase scan, same reason: ``Window.orderBy(...)`` with no
partition key funnels the corpus through one task. Here the monoid is
``max`` instead of ``+``:

1. range-partition by the order keys (contiguous key ranges);
2. running max WITHIN each partition (parallel);
3. per-partition maxima (one tiny row each) come back to the driver;
   an EXCLUSIVE max-scan over them gives each partition the max of
   everything before it; a broadcast join takes
   ``greatest(local, carry_in)``.

max is associative/commutative with identity −∞, so the result is
independent of where the range boundaries fall — the DuckDB oracle
checks it with a plain ``MAX() OVER (ORDER BY ...)``. Kept in a NEW
module (not prefix.py) because prefix.py sits in certified query
closures — the certification-ledger contract for new capability.

First consumer: the watermark-lateness audit (x206) — running event-
time high-water-mark over arrival order, lateness = high-water − own
event time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.blocks import materialize


def global_running_max(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    out_col: str = "running_max",
) -> DataFrame:
    """Global cumulative max of ``value_col`` in ``order_cols`` order,
    without a single-partition exchange. ``order_cols`` must be a
    unique key (ties would make "the" global order ambiguous — same
    contract as global_running_sum).

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("__local", F.max(value_col).over(w))
    # Frozen, lazy materialization for the same reason as
    # prefix.global_running_sum's checkpoint site: the __pid -> carry
    # mapping is only valid against the exact partition assignment it
    # was computed on (repartitionByRange samples boundaries per-plan),
    # and the maxima collect below is the one job that fills the blocks.
    ranged = materialize(ranged, eager=False)

    tops = (
        ranged.groupBy("__pid")
        .agg(F.max(value_col).alias("__top"))
        .collect()
    )
    # The identity is NULL, not a finite sentinel: Spark's greatest()
    # returns the largest NON-NULL operand, so the first partition
    # (no carry-in) keeps its local max untouched even at the bottom
    # of the int64 range — a finite "-inf" would silently floor
    # values below it.
    carry, carries = None, []
    for row in sorted(tops, key=lambda r: r["__pid"]):
        carries.append((row["__pid"], carry))
        top = row["__top"]
        if top is not None and (carry is None or top > carry):
            carry = top
    # Carry column typed from the VALUE column (ADVICE r13): max is
    # defined for any ordered type (long/double/decimal/timestamp/
    # date/string), and a hardcoded "long" would fail createDataFrame
    # (or mis-type the greatest()) for every non-bigint value column.
    carry_df = df.sparkSession.createDataFrame(
        carries,
        StructType(
            [
                StructField("__pid", IntegerType(), False),
                StructField("__carry", df.schema[value_col].dataType, True),
            ]
        ),
    )
    return (
        ranged.join(F.broadcast(carry_df), "__pid")
        .withColumn(
            out_col, F.greatest(F.col("__local"), F.col("__carry"))
        )
        .drop("__pid", "__local", "__carry")
    )
