"""Scalable global prefix scans — running sums and running max — and
the operators built on them.

A global running total over one deterministic order is the textbook
single-partition trap: ``Window.orderBy(...)`` with no partition keys
funnels the whole table through one task. The scalable shape is the
classic two-phase scan:

1. range-partition by the order keys (each partition holds a contiguous
   key range; equal keys never split across partitions);
2. cumulative sum WITHIN each partition (parallel, one window per
   partition);
3. per-partition totals — one tiny row per partition — come back to the
   driver, an exclusive scan over them gives each partition's starting
   offset, and a broadcast join adds the offset back.

The result is deterministic in the order keys no matter where the range
boundaries fall (offsets absorb the boundary placement), so the DuckDB
oracle can check it with a plain ``SUM() OVER (ORDER BY ...)``. The
running max is the same scan over the ``max`` monoid (associative, with
identity −∞), checked with ``MAX() OVER (ORDER BY ...)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.blocks import materialize


def _ranged(
    df: DataFrame, order_cols: tuple[str, ...], local_aggs: dict[str, Column]
) -> DataFrame:
    """Phase 1+2 of the scan, LAZY: range-partition on the order keys,
    tag each row with its physical partition id ``__pid`` and add each
    ``name -> aggregate`` as a running aggregate within the partition."""
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for name, agg in local_aggs.items():
        ranged = ranged.withColumn(name, agg.over(w))
    return ranged


def _ranged_local_sums(
    df: DataFrame, value_col: str, order_cols: tuple[str, ...]
) -> DataFrame:
    """The sum scan's phase 1+2 for one column — the ``_ranged`` code
    every scan runs — exposed so plan-shape tests can assert the range
    exchange / keyed window: the scans materialize it via
    localCheckpoint, which truncates the visible lineage of everything
    downstream."""
    return _ranged(df, order_cols, {"__local": F.sum(value_col)})


def _carry_in(
    ranged: DataFrame,
    part_aggs: list[Column],
    carries: Callable[[list[Row]], list[tuple]],
    carry_schema: str | StructType,
) -> DataFrame:
    """Phase 3: aggregate each partition of ``ranged`` (``part_aggs``),
    turn the per-partition rows, in ``__pid`` order, into one carry-in
    row per partition on the driver (``carries``), and broadcast-join
    the carries back on ``__pid``."""
    # The __pid -> carry mapping is only valid against the EXACT
    # partition assignment it was computed on, and repartitionByRange
    # samples its boundaries per-plan (the sample seed derives from the
    # physical RDD), so the totals pass and the final join MUST read one
    # frozen materialization — recomputing `ranged` per action could
    # shift rows across boundaries and add the wrong carries. Lazy: the
    # checkpoint RDD is created NOW (the plan — and hence the range
    # boundaries' sampling target — is frozen at this line), and the
    # per-partition collect below aggregates every partition, so it is
    # the one job that fills the frozen blocks the carry join reads.
    ranged = materialize(ranged, eager=False)
    parts = sorted(
        ranged.groupBy("__pid").agg(*part_aggs).collect(),
        key=lambda r: r["__pid"],
    )
    carry_df = ranged.sparkSession.createDataFrame(
        carries(parts), carry_schema
    )
    return ranged.join(F.broadcast(carry_df), "__pid")


def global_running_sums(
    df: DataFrame,
    value_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    out_cols: tuple[str, ...],
) -> DataFrame:
    """Global cumulative sums of SEVERAL value columns over ONE shared
    ``order_cols`` order — one range exchange, one per-partition
    window sort, one frozen materialization and one driver-side offset
    pass for the whole batch, where chaining ``global_running_sum``
    per column would repeat all four per column (r14: x157's Heaps
    scan chained three — 3 range exchanges + 3 checkpoints + 3
    collects collapsed to 1 each). ``order_cols`` must be a unique key
    (ties would make "the" global order ambiguous).

    Contract: the value columns must be integral (the driver-side
    offset relation is typed ``bigint``, and partial sums must not
    overflow int64 — callers with wider ranges pre-scale or bucket
    first). ``global_running_max`` is generic over ordered types
    because max never widens; sum does, so this operator keeps the
    explicit bigint contract rather than silently adopting the input
    type's overflow behavior.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    if not value_cols or len(value_cols) != len(out_cols):
        raise ValueError(
            "value_cols must be non-empty and match out_cols in length"
        )
    k = len(value_cols)
    ranged = _ranged(df, order_cols, {
        f"__local_{i}": F.sum(vc) for i, vc in enumerate(value_cols)
    })

    def offsets(parts: list[Row]) -> list[tuple]:
        # exclusive scan: each partition starts at the sum of all
        # partitions before it
        running, rows = [0] * k, []
        for row in parts:
            rows.append((row["__pid"], *running))
            for i in range(k):
                running[i] += row[f"__total_{i}"] or 0
        return rows

    out = _carry_in(
        ranged,
        [F.sum(vc).alias(f"__total_{i}") for i, vc in enumerate(value_cols)],
        offsets,
        "__pid int, "
        + ", ".join(f"__offset_{i} long" for i in range(k)),
    )
    for i, oc in enumerate(out_cols):
        out = out.withColumn(
            oc, F.col(f"__local_{i}") + F.col(f"__offset_{i}")
        )
    drop = ["__pid"] + [f"__local_{i}" for i in range(k)]
    drop += [f"__offset_{i}" for i in range(k)]
    return out.drop(*drop)


def global_running_sum(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    out_col: str = "running_sum",
) -> DataFrame:
    """Global cumulative sum of ``value_col`` in ``order_cols`` order,
    without a single-partition exchange: ``global_running_sums`` over
    one column, with the same contract."""
    return global_running_sums(df, (value_col,), order_cols, (out_col,))


def global_running_max(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    out_col: str = "running_max",
) -> DataFrame:
    """Global cumulative max of ``value_col`` in ``order_cols`` order —
    the same two-phase scan with ``max`` as the monoid: the carry-in of
    a partition is the max of everything before it, and the output is
    ``greatest(local, carry_in)``. ``order_cols`` must be a unique key.

    First consumer: the watermark-lateness audit (x206) — running
    event-time high-water-mark over arrival order.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    ranged = _ranged(df, order_cols, {"__local": F.max(value_col)})

    def carries(parts: list[Row]) -> list[tuple]:
        # The identity is NULL, not a finite sentinel: Spark's
        # greatest() returns the largest NON-NULL operand, so the first
        # partition (no carry-in) keeps its local max untouched even at
        # the bottom of the int64 range — a finite "-inf" would
        # silently floor values below it.
        carry, rows = None, []
        for row in parts:
            rows.append((row["__pid"], carry))
            top = row["__top"]
            if top is not None and (carry is None or top > carry):
                carry = top
        return rows

    # Carry column typed from the VALUE column: max is defined for any
    # ordered type (long/double/decimal/timestamp/date/string), and a
    # hardcoded "long" would fail createDataFrame (or mis-type the
    # greatest()) for every non-bigint value column.
    out = _carry_in(
        ranged,
        [F.max(value_col).alias("__top")],
        carries,
        StructType(
            [
                StructField("__pid", IntegerType(), False),
                StructField("__carry", df.schema[value_col].dataType, True),
            ]
        ),
    )
    return out.withColumn(
        out_col, F.greatest(F.col("__local"), F.col("__carry"))
    ).drop("__pid", "__local", "__carry")


def pack_into_shards(
    df: DataFrame,
    size_col: str,
    order_cols: tuple[str, ...],
    shard_budget: int,
) -> DataFrame:
    """Sequence packing: assign rows (chunks) to fixed-token-budget
    shards by walking them in a deterministic global order —
    ``shard_id = exclusive_running_sum(size) div shard_budget``. The step
    that turns curated chunks into training shards. An item is assigned
    to the shard in which its START offset falls, so a shard may overrun
    the budget by at most one item — a deterministic rule any engine
    reproduces; trimming/padding the boundary item is downstream's call."""
    out = global_running_sum(df, size_col, order_cols, "__cum")
    return out.withColumn(
        "shard_id",
        F.expr(f"(__cum - {size_col}) div {shard_budget}").cast("long"),
    ).drop("__cum")
