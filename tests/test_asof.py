"""As-of backward join: boundary semantics on crafted frames."""

import pytest
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.asof import asof_join_backward


def test_asof_backward_boundaries(spark):
    left = spark.createDataFrame(
        [
            ("u1", 5, "a"),   # before any right row → NULL
            ("u1", 10, "b"),  # exactly at right ts 10 → inclusive match
            ("u1", 15, "c"),  # between 10 and 20 → 10's value
            ("u1", 25, "d"),  # after 20 → 20's value
            ("u2", 100, "e"), # other key: only its own right rows
        ],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.0), ("u1", 20, 2.0), ("u2", 90, 9.0)],
        "k string, ts long, rv double",
    )
    out = asof_join_backward(left, right, ["k"], "ts", ["rv"])
    got = {r["tag"]: r["rv"] for r in out.collect()}
    assert got == {"a": None, "b": 1.0, "c": 1.0, "d": 2.0, "e": 9.0}
    # all left rows and columns survive
    assert sorted(out.columns) == sorted(["k", "ts", "tag", "rv"])
    assert out.count() == 5


def test_asof_single_shuffle_plan(spark):
    left = spark.createDataFrame([("u1", 5, "a")], "k string, ts long, tag string")
    right = spark.createDataFrame([("u1", 1, 1.0)], "k string, ts long, rv double")
    out = asof_join_backward(left, right, ["k"], "ts", ["rv"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # union + one window shuffle on the key; no join node at all
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # union inputs coalesce into one hash exchange (+AQE reads)


def test_asof_backward_takes_all_values_from_one_row(spark):
    """Every value column comes from the ONE nearest preceding right
    row, NULLs included (DuckDB's ASOF LEFT JOIN gives price=NULL,
    tag='b' here). Filling each column with its own last non-NULL
    value would take price from the older row at ts 5."""
    left = spark.createDataFrame([(1, 20)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0, "a"), (1, 15, None, "b")],
        "k long, ts long, price double, tag string",
    )
    out = asof_join_backward(left, right, ["k"], "ts", ["price", "tag"])
    assert [tuple(r) for r in out.collect()] == [(1, 20, None, "b")]
    # a value column already on the left would feed the left rows' own
    # values into the fill
    with pytest.raises(ValueError, match="tag"):
        asof_join_backward(
            left.withColumn("tag", F.lit("x")), right, ["k"], "ts", ["tag"]
        )
