"""Hypothesis property tests for the r5 integer sizing rules — these
rules are replicated in SQL oracles, so their algebraic contracts must
hold for EVERY count, not just the fixture sizes.
"""

from hypothesis import given
from hypothesis import strategies as st

from m5_competition_kaggle_spark.operators.semantic_dedup import (
    auto_n_centroids,
)
from m5_competition_kaggle_spark.operators.similarity import (
    MAX_PLANES,
    auto_num_planes,
)


@given(st.integers(min_value=0, max_value=10**12))
def test_auto_planes_occupancy_band(n):
    """Unclamped, N/2^p ∈ (occ/2, occ]; clamped ends stay in range."""
    p = auto_num_planes(n, target_occupancy=32)
    assert 1 <= p <= MAX_PLANES
    if 1 < p < MAX_PLANES:
        assert 16 < n / (1 << p) <= 32


@given(st.integers(min_value=0, max_value=10**12),
       st.integers(min_value=1, max_value=10**6))
def test_auto_planes_equals_sql_shift_scan(n, occ):
    """The Python bit-length rule == the oracle's min-shift scan for
    any (count, occupancy)."""
    m = max(1, -(-n // occ))
    sql_p = min(
        MAX_PLANES, max(1, next(p for p in range(63) if (1 << p) >= m))
    )
    assert auto_num_planes(n, target_occupancy=occ) == sql_p


@given(st.integers(min_value=0, max_value=10**12))
def test_auto_planes_monotone_in_n(n):
    """More data never means fewer buckets."""
    assert auto_num_planes(n + 1) >= auto_num_planes(n)


@given(st.integers(min_value=0, max_value=2**52))
def test_auto_k_matches_float_sqrt_rule(n):
    """isqrt (the Spark side) == floor(sqrt(double)) (the oracle side)
    for every feasible count below 2^52."""
    import math

    k = auto_n_centroids(n)
    assert k == max(1, int(math.floor(math.sqrt(float(n))))) or n == 0
    if n > 0:
        assert k * k <= n < (k + 1) * (k + 1) or k == 1


@given(st.integers(min_value=1, max_value=10**9))
def test_rank_rule_is_valid_rank(n):
    """ceil(q·N/1000) ∈ [1, N] for q ∈ (0, 1000] — the x52 rank rule
    always addresses a real row."""
    for q in (1, 250, 500, 750, 990, 1000):
        r = (q * n + 999) // 1000
        assert 1 <= r <= n
