"""Scalable global prefix sums (and the operators built on them).

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
oracle can check it with a plain ``SUM() OVER (ORDER BY ...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.blocks import materialize


def _ranged_local_sums(
    df: DataFrame, value_col: str, order_cols: tuple[str, ...]
) -> DataFrame:
    """Phase 1+2 of the scan, LAZY: range-partition on the order keys
    and take per-partition cumulative sums keyed by the physical
    partition id. Exposed separately so plan-shape tests can assert
    the range exchange / keyed window on the REAL computation —
    ``global_running_sum`` materializes this via localCheckpoint,
    which truncates the visible lineage of everything downstream."""
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn("__local", F.sum(value_col).over(w))


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
    collects collapsed to 1 each). Same bigint/unique-order contract
    and frozen materialization as ``global_running_sum`` (see the
    checkpoint rationale there); identical
    per-column results (property-tested in tests/test_prefix_ops.py).
    """
    if not value_cols or len(value_cols) != len(out_cols):
        raise ValueError(
            "value_cols must be non-empty and match out_cols in length"
        )
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for i, vc in enumerate(value_cols):
        ranged = ranged.withColumn(f"__local_{i}", F.sum(vc).over(w))
    # Frozen, lazy materialization — same rationale as
    # global_running_sum's checkpoint site below (sampled range
    # boundaries must not move between the totals pass and the offset
    # join; the totals collect is the one job that fills the blocks).
    ranged = materialize(ranged, eager=False)
    totals = (
        ranged.groupBy("__pid")
        .agg(*[
            F.sum(vc).alias(f"__total_{i}")
            for i, vc in enumerate(value_cols)
        ])
        .collect()
    )
    running = [0] * len(value_cols)
    offsets = []
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], *running))
        for i in range(len(value_cols)):
            running[i] += row[f"__total_{i}"] or 0
    off_schema = "__pid int, " + ", ".join(
        f"__offset_{i} long" for i in range(len(value_cols))
    )
    off_df = df.sparkSession.createDataFrame(offsets, off_schema)
    out = ranged.join(F.broadcast(off_df), "__pid")
    for i, oc in enumerate(out_cols):
        out = out.withColumn(
            oc, F.col(f"__local_{i}") + F.col(f"__offset_{i}")
        )
    drop = ["__pid"] + [f"__local_{i}" for i in range(len(value_cols))]
    drop += [f"__offset_{i}" for i in range(len(value_cols))]
    return out.drop(*drop)


def global_running_sum(
    df: DataFrame,
    value_col: str,
    order_cols: tuple[str, ...],
    out_col: str = "running_sum",
) -> DataFrame:
    """Global cumulative sum of ``value_col`` in ``order_cols`` order,
    without a single-partition exchange. ``order_cols`` must be a unique
    key (ties would make "the" global order ambiguous).

    Contract: ``value_col`` must be integral (the driver-side offset
    relation is typed ``bigint``, and partial sums must not overflow
    int64 — callers with wider ranges pre-scale or bucket first). The
    sibling ``prefix_max.global_running_max`` is generic over ordered
    types because max never widens; sum does, so this operator keeps
    the explicit bigint contract rather than silently adopting the
    input type's overflow behavior.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    ranged = _ranged_local_sums(df, value_col, order_cols)
    # The __pid -> offset mapping is only valid against the EXACT
    # partition assignment it was computed on, and repartitionByRange
    # samples its boundaries per-plan (the sample seed derives from the
    # physical RDD), so the totals pass and the final join MUST read one
    # frozen materialization — recomputing `ranged` per action could
    # shift rows across boundaries and add the wrong offsets. Lazy: the
    # checkpoint RDD is created NOW (the plan — and hence the range
    # boundaries' sampling target — is frozen at this line), and the
    # totals collect below aggregates every partition, so it is the
    # one job that fills the frozen blocks the offset join reads.
    ranged = materialize(ranged, eager=False)

    totals = (
        ranged.groupBy("__pid")
        .agg(F.sum(value_col).alias("__total"))
        .collect()
    )
    offset, offsets = 0, []
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], offset))
        offset += row["__total"] or 0
    off_df = df.sparkSession.createDataFrame(
        offsets, "__pid int, __offset long"
    )
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__local") + F.col("__offset"))
        .drop("__pid", "__local", "__offset")
    )


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
