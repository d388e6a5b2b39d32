"""The quantized int64 vector metric (operators/vector_kernel.py):
exactness against numpy, the (metric, id) tie-break, the quantizer's
rounding at .5 boundaries, and that no other operator restates it."""

import decimal
import pathlib
import re

import numpy as np

from m5_competition_kaggle_spark.operators.similarity import quantized_dot
from m5_competition_kaggle_spark.operators.vector_kernel import (
    int_dot,
    int_sqdist,
    nearest_centroids,
    quantize_expr,
    quantize_sql,
    rounded_mean,
    top_n,
)

OPERATORS = (
    pathlib.Path(__file__).resolve().parent.parent
    / "m5_competition_kaggle_spark"
    / "operators"
)


def _pairs_df(spark, a, b):
    rows = [(i, x.tolist(), y.tolist()) for i, (x, y) in enumerate(zip(a, b))]
    return spark.createDataFrame(
        rows, "i long, a array<bigint>, b array<bigint>"
    )


def test_int_metrics_match_numpy(spark):
    rng = np.random.default_rng(7)
    d = 64
    a = rng.integers(-2000, 2001, size=(40, d), dtype=np.int64)
    b = rng.integers(-2000, 2001, size=(40, d), dtype=np.int64)
    # the overflow envelope's edge: |q| = 2^27 at d = 64 keeps
    # 4·d·M² = 2^62 < 2^63, with opposite signs for the largest L2
    m = np.int64(2**27)
    a = np.vstack([a, np.full((1, d), m), np.full((1, d), -m)])
    b = np.vstack([b, np.full((1, d), -m), np.full((1, d), -m)])
    got = {
        r["i"]: (r["dot"], r["d2"])
        for r in _pairs_df(spark, a, b)
        .select("i", int_dot("a", "b").alias("dot"),
                int_sqdist("a", "b").alias("d2"))
        .collect()
    }
    for i in range(len(a)):
        want_dot = int((a[i] * b[i]).sum())
        want_d2 = int(((a[i] - b[i]) ** 2).sum())
        assert got[i] == (want_dot, want_d2), i
    assert got[len(a) - 2] == (-(2**60), 2**62)
    assert got[len(a) - 1] == (2**60, 0)


def _points_and_cents(spark):
    # centroid 1 and 2 are an exact tie for both metrics against the
    # point (same dot, same squared distance); centroid 0 is worse
    points = spark.createDataFrame(
        [(7, [1, 0])], "vid long, v array<bigint>"
    )
    cents = spark.createDataFrame(
        [(2, [1, 1]), (1, [1, -1]), (0, [-3, 0]), (3, [0, 0])],
        "cid long, cv array<bigint>",
    )
    return points, cents


def test_nearest_centroid_ties_go_to_lower_cid(spark):
    points, cents = _points_and_cents(spark)
    for metric in ("dot", "l2"):
        got = nearest_centroids(points, cents, "vid", "v", metric).collect()
        assert [(r["vid"], r["cid"]) for r in got] == [(7, 1)], metric


def test_nearest_centroids_returns_best_n_in_order(spark):
    points, cents = _points_and_cents(spark)
    # dot vs (1, 0): cid1 = 1, cid2 = 1, cid3 = 0, cid0 = -3
    # l2 vs (1, 0): cid1 = 1, cid2 = 1, cid3 = 1, cid0 = 16
    want = {"dot": [(1, 1), (2, 1), (3, 0)], "l2": [(1, 1), (2, 1), (3, 1)]}
    for metric, expect in want.items():
        ranked = top_n(
            points.crossJoin(cents).withColumn(
                "sc",
                int_dot("v", "cv") if metric == "dot"
                else int_sqdist("v", "cv"),
            ),
            "vid", "sc", "cid", metric, 3, "rank",
        ).orderBy("rank").collect()
        assert [r["rank"] for r in ranked] == [1, 2, 3], metric
        assert [(r["cid"], r["sc"]) for r in ranked] == expect, metric
        got = nearest_centroids(
            points, cents, "vid", "v", metric, n=3, score="sc"
        ).collect()
        assert sorted((r["cid"], r["sc"]) for r in got) == expect, metric


def _half_up(x: np.float32) -> int:
    v = decimal.Decimal(float(x) * 1000)  # the exact double product
    return int(v.quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP))


def test_quantized_dot_is_int_dot_of_quantized_near_half(spark):
    rng = np.random.default_rng(11)
    vals = []
    while len(vals) < 64:
        k = int(rng.integers(-5000, 5000))
        x = np.float32((k + 0.5 + rng.uniform(-5e-5, 5e-5)) / 1000)
        if abs(float(x) * 1000 - (k + 0.5)) < 1e-4:
            vals.append(x)
    a = np.array(vals, dtype=np.float32).reshape(8, 8)
    b = a[::-1].copy()
    rows = [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))]
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    got = (
        df.select(
            "i",
            quantized_dot("a", "b").alias("qd"),
            int_dot(quantize_sql("a"), quantize_sql("b")).alias("kd"),
            quantize_expr("a").alias("qa"),
            quantize_expr("b").alias("qb"),
        )
        .withColumn("ed", int_dot("qa", "qb"))
        .collect()
    )
    for r in got:
        qa = [_half_up(x) for x in a[r["i"]]]
        qb = [_half_up(x) for x in b[r["i"]]]
        assert r["qa"] == qa and r["qb"] == qb
        want = sum(x * y for x, y in zip(qa, qb))
        assert r["qd"] == r["kd"] == r["ed"] == want


def test_rounded_mean_rounds_half_away_from_zero(spark):
    df = spark.createDataFrame(
        [(0, [1, -1, 3]), (0, [2, -2, 3]), (1, [-5, 0, 7])],
        "k int, v array<bigint>",
    )
    got = {r["k"]: r["cv"] for r in rounded_mean(df, "k", "v").collect()}
    # means (1.5, -1.5, 3) -> (2, -2, 3); a single member is itself
    assert got == {0: [2, -2, 3], 1: [-5, 0, 7]}


def test_no_operator_restates_the_metric():
    pat = re.compile(r"zip_with|cast\(x as double\) \*", re.IGNORECASE)
    offenders = [
        p.name
        for p in sorted(OPERATORS.glob("*.py"))
        if p.name != "vector_kernel.py" and pat.search(p.read_text())
    ]
    assert not offenders, offenders
