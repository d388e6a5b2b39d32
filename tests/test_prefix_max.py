"""Brute-force property tests for operators/prefix.py's running max — the
running-MAX two-phase scan (the max-monoid sibling of test_prefix.py's
sum scan): result must equal a literal sorted walk for random frames,
including negative values, duplicates of the max, and frames smaller
than the partition count."""

from __future__ import annotations

import random

from m5_competition_kaggle_spark.operators.prefix import (
    global_running_max,
)


def test_running_max_matches_brute_force(spark):
    rng = random.Random(4242)
    for trial in range(4):
        n = rng.randrange(1, 300)
        rows = [
            (i, rng.randrange(-(10**12), 10**12)) for i in range(n)
        ]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "k long, v long")
        got = {
            r["k"]: r["rm"]
            for r in global_running_max(
                df, "v", ("k",), "rm"
            ).collect()
        }
        best = None
        expected = {}
        for k, v in sorted(rows):
            best = v if best is None else max(best, v)
            expected[k] = best
        assert got == expected, f"trial {trial}"


def test_running_max_plan_has_no_single_partition_window(spark):
    """The point of the operator: the per-partition window partitions
    by __pid — no WindowExec over one global partition."""
    rows = [(i, i % 7) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v long")
    out = global_running_max(df, "v", ("k",), "rm")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_running_max_at_int64_bottom(spark):
    """Values below -2^62 pin the NULL-identity fix: a finite '-inf'
    sentinel would floor the first partition's maxima."""
    lo = -(2**63) + 1
    rows = [(0, lo), (1, lo + 1), (2, lo)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["rm"]
        for r in global_running_max(df, "v", ("k",), "rm").collect()
    }
    assert got == {0: lo, 1: lo + 1, 2: lo + 1}


def test_running_max_non_bigint_value_types(spark):
    """ADVICE r13: the carry schema is derived from the value column's
    type, so double / timestamp value columns work end-to-end (a
    hardcoded 'long' carry either failed createDataFrame or mis-typed
    the greatest())."""
    import datetime as dt

    rows = [(0, 2.5), (1, -7.25), (2, 9.75), (3, 1.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    out = global_running_max(df, "v", ("k",), "rm")
    assert dict(out.select("k", "rm").collect()) == {
        0: 2.5, 1: 2.5, 2: 9.75, 3: 9.75,
    }
    assert out.schema["rm"].dataType.typeName() == "double"

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ts_rows = [
        (0, base + dt.timedelta(hours=5)),
        (1, base + dt.timedelta(hours=2)),
        (2, base + dt.timedelta(hours=9)),
    ]
    tdf = spark.createDataFrame(ts_rows, "k long, v timestamp")
    tout = global_running_max(tdf, "v", ("k",), "rm")
    got = {r["k"]: r["rm"] for r in tout.collect()}
    assert got[0].hour == 5 and got[1].hour == 5 and got[2].hour == 9
    assert tout.schema["rm"].dataType.typeName() == "timestamp"
