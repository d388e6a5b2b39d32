"""Keyed interval join — the range-join class WITH an equality key.

``operators/interval.py`` handles the pure point-in-interval case by
bucket expansion. The far more common production shape adds an equality
key on both sides (user, device, store): "match each event to the
windows OF ITS OWN ENTITY". Naively that is an equi-join with a range
post-filter — correct, but the join key alone (the entity) makes every
hot entity a hot reducer and fans each point across ALL of its entity's
intervals before filtering.

This operator composes both keys: intervals expand to fixed-width
buckets exactly as in the unkeyed operator, and the join key becomes
(entity…, bucket) — so co-partitioning is by entity AND time, hot
entities spread across their time range, and a point meets only the
intervals overlapping its own bucket. Each true (point, interval) match
is still emitted exactly once (the point owns one bucket; the interval
covers it once). Same integer-exactness and end>start blowup guard as
the unkeyed form (certified through x93's attribution query).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_keyed(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner join: every (point, interval) pair sharing ``on`` with
    ``start <= point_ts < end`` (half-open, integer columns). Output:
    the shared key columns once, then both sides' remaining columns
    (names must be disjoint apart from ``on``; validated)."""
    keys = list(on)
    overlap = (set(points.columns) & set(intervals.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"overlapping non-key columns: {sorted(overlap)}"
        )
    g = F.lit(int(bucket_width))
    p = points.withColumn("__bucket", F.floor(F.col(point_ts) / g))
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / g),
                F.floor((F.col(end_col) - F.lit(1)) / g),
            )
        ),
    )
    return (
        p.join(i, [*keys, "__bucket"])
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("__bucket")
    )
