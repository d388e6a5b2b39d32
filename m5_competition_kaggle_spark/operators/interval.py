"""Point-in-interval join via bucket expansion — the range-join class.

Spark has no native interval join: expressing ``t BETWEEN s AND e``
directly gives a BroadcastNestedLoopJoin (or a cartesian product with a
post-filter) — quadratic work that no amount of cluster makes viable at
100 TB. The standard scale rewrite (same trick as Databricks' range-join
bin optimization and PostGIS tile joins) turns it into an EQUI-join:

1. pick a bucket width G (ideally ~ the median interval length);
2. every interval [s, e) expands to the buckets it overlaps
   (floor(s/G) .. floor((e-1)/G) — ceil((e-s)/G)+1 rows at most);
3. every point maps to its single bucket floor(t/G);
4. join on bucket (keyed shuffle!), then apply the exact
   ``s <= t < e`` filter.

With an equality key (``on=``: user, device, store — "match each event
to the windows OF ITS OWN ENTITY") the join key becomes (entity…,
bucket), so hot entities spread across their time range and a point
meets only its own entity's intervals overlapping its bucket.

The point side is stateless (one bucket per point), so the same probe
serves a STREAMING point side against a static, pre-expanded interval
side (``expanded_intervals`` once, then ``streaming_interval_join``):
a stream-static equi-join with no join state, where a BETWEEN join
would be a nested loop that structured streaming rejects at scale.

A (point, interval) match is emitted EXACTLY once — the point owns one
bucket, and the interval covers that bucket exactly once — so no
distinct pass is needed. Shuffle volume is |points| + |intervals| *
avg_span/G, both keyed; fan-out is bounded by the expansion factor, and
AQE's skew-join split handles hot buckets (burst windows). For
pathological skew, compose with ``operators/skew.py::salted_*``.

All COMPARISON arithmetic is integer (epoch-nanos longs), so results
reproduce bit-for-bit in ANSI SQL (x67). The bucket id itself computes
through double division, and epoch-nanos exceed double's 2^52 integer
range — bucket ids near boundaries may round to a neighbor. That is
harmless BY CONSTRUCTION: float division is monotone, so
floor(s/g) <= floor(t/g) <= floor((e-1)/g) still holds for every true
match (containment property-tested over the full nanos range in
tests/test_r6_properties.py), the exact integer filter runs after the
join, and both sides of the join use the same arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expanded_intervals(
    intervals: DataFrame, start_col: str, end_col: str, bucket_width: int
) -> DataFrame:
    """The interval side: one row per (interval, covered bucket), in
    ``__bucket``. Precompute it once for a stream-static join."""
    g = F.lit(int(bucket_width))
    # Degenerate intervals (end <= start) contain no point under the
    # half-open contract, but F.sequence steps -1 when start > stop, so
    # one dirty row with end far below start would explode into an
    # unbounded descending bucket list. Dropping them first is both the
    # exact semantics and the blowup guard.
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    return intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / g),
                F.floor((F.col(end_col) - F.lit(1)) / g),
            )
        ),
    )


def streaming_interval_join(
    points: DataFrame,
    expanded: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    on: Sequence[str] = (),
) -> DataFrame:
    """Probe ``points`` (batch or streaming) against an interval side
    from :func:`expanded_intervals` with the SAME ``bucket_width``:
    every (point, interval) pair sharing ``on`` with
    ``start <= point_ts < end``. Holds no join state."""
    g = F.lit(int(bucket_width))
    p = points.withColumn("__bucket", F.floor(F.col(point_ts) / g))
    return (
        p.join(expanded, [*on, "__bucket"])
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("__bucket")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    on: Sequence[str] = (),
) -> DataFrame:
    """Inner join: every (point, interval) pair sharing the key columns
    ``on`` with ``start <= point_ts < end`` (half-open, integer columns).

    Returns the ``on`` columns once, then points' and intervals'
    remaining columns. Those must be disjoint apart from the join
    bookkeeping (validated).
    """
    overlap = (set(points.columns) & set(intervals.columns)) - set(on)
    if overlap:
        raise ValueError(f"overlapping columns: {sorted(overlap)}")
    return streaming_interval_join(
        points,
        expanded_intervals(intervals, start_col, end_col, bucket_width),
        point_ts, start_col, end_col, bucket_width, on,
    )
