"""Occupancy-scaled LSH (``lsh_topk(num_planes=None)``) — the fix for
the r4 audit's one super-linear entry (x10 at fixed planes).

The scale contract is tested STRUCTURALLY on candidate counts, not wall
clock: with a fixed query set, fixed-plane LSH grows candidates ~10× at
a 10× corpus (bucket occupancy grows with N), while auto planes hold
candidates in a constant occupancy band (ratio well under the verdict's
≤3× bar).
"""

import pytest
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.similarity import (
    MAX_PLANES,
    auto_num_planes,
    lsh_topk,
)

DIM = 64


def test_auto_num_planes_integer_rule():
    # edge cases
    assert auto_num_planes(0) == 1
    assert auto_num_planes(1) == 1
    assert auto_num_planes(32) == 1        # m=1 → 2^0 buckets... clamped
    assert auto_num_planes(33) == 1        # m=2 → p=1
    assert auto_num_planes(65) == 2        # m=3 → p=2
    assert auto_num_planes(1000) == 5      # m=32 → p=5
    assert auto_num_planes(10**12) == MAX_PLANES  # clamp
    with pytest.raises(ValueError):
        auto_num_planes(-1)
    with pytest.raises(ValueError):
        auto_num_planes(10, target_occupancy=0)


def test_auto_num_planes_occupancy_band():
    """Unclamped, N / 2^p lands in (occ/2, occ] — candidates per bucket
    are a constant band regardless of corpus size."""
    for n in (100, 999, 4096, 50_000, 123_457):
        p = auto_num_planes(n, target_occupancy=32)
        if 1 < p < MAX_PLANES:
            occ = n / (1 << p)
            assert 16 < occ <= 32, (n, p, occ)


def test_auto_matches_sql_shift_scan():
    """The oracle derives planes as min p with (1 << p) >= ceil(n/occ);
    the Python bit-length rule must agree everywhere."""
    for n in range(0, 3000, 37):
        m = max(1, -(-n // 32))
        sql_p = min(
            MAX_PLANES, max(1, next(p for p in range(63) if (1 << p) >= m))
        )
        assert auto_num_planes(n) == sql_p, n


def _synth(spark, n: int):
    """Deterministic pseudo-random unit-ish vectors, JVM-side."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {DIM}), i -> cast("
            "(pmod(xxhash64(id, i), 2001) - 1000) / 1000.0 as float))"
        ).alias("embedding"),
    )


def test_lsh_topk_auto_equals_explicit_planes(spark):
    vecs = _synth(spark, 400)
    qs = vecs.filter(F.col("vec_id") % 50 == 0)
    auto = lsh_topk(vecs, qs, k=5, num_planes=None)
    # 400 rows, occ 32 → m=13 → planes 4
    explicit = lsh_topk(vecs, qs, k=5, num_planes=4, num_tables=8, dim=DIM)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def _n_candidates(spark, n: int, num_planes) -> int:
    """Total candidate pairs for a FIXED 20-query set: k→∞ makes the
    ranked output exactly the deduped candidate set."""
    vecs = _synth(spark, n)
    qs = vecs.filter(F.col("vec_id") < 20)
    if num_planes is None:
        out = lsh_topk(vecs, qs, k=1 << 30, num_planes=None)
    else:
        out = lsh_topk(
            vecs, qs, k=1 << 30, num_planes=num_planes, num_tables=8,
            dim=DIM,
        )
    return out.count()


def test_ten_x_candidate_growth_fixed_vs_auto(spark):
    """THE r4 verdict item-3 contract. 10× corpus, fixed queries:
    fixed 4 planes → candidate work grows ~linearly (the flagged
    super-linear total once query count also grows); auto planes →
    bounded by the occupancy band, ≤3× (in fact ~1×)."""
    n1, n2 = 2_000, 20_000
    fixed1 = _n_candidates(spark, n1, 4)
    fixed2 = _n_candidates(spark, n2, 4)
    auto1 = _n_candidates(spark, n1, None)
    auto2 = _n_candidates(spark, n2, None)
    assert fixed2 / fixed1 > 5.0, (fixed1, fixed2)
    assert auto2 / auto1 <= 3.0, (auto1, auto2)
    # auto planes at n1=2000 is 6, at n2=20000 is 10
    assert auto_num_planes(n1) == 6 and auto_num_planes(n2) == 10
