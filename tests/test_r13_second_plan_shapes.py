"""Structural plan asserts for the r13-second-session staged batch —
each operator's 100 TB claim pinned at the pytest level (the global
scripts/plan_audit.py sweep covers the same ground per-round; these
run on every pytest invocation):

- generic, all eight: no CartesianProduct, no Python evaluation of
  any kind in the executed plan (JVM-only claims).
- x67b: both cell attachments are equi-joins (hash or broadcast),
  never nested-loop; aggregates keyed.
- x202: exactly zero joins — one projection, one keyed aggregate.
- x203: the only nested-loop join is the 1-row broadcast total.
- x204: the per-key count tables meet in an equi full-outer join.
- x205: the posexplode survives as Generate; the aggregate is keyed
  by dim (never global before the final 64-row sort).

x200/x206 compose eager-localCheckpoint scans whose corpus-sized
phase is lineage-truncated out of the visible plan; their scan shape
is asserted at the operator level (the running-sum and running-max
tests of operators/prefix.py) and their visible plans still must pass
the generic asserts (the bounded calendar window is the documented
plan-audit allowance)."""

import pytest

from m5_competition_kaggle_spark.queries import (
    extensions_r14,
    extensions_r15,
    extensions_r16,
    extensions_r17,
    extensions_r18,
    extensions_r19,
    extensions_r20,
)

SF = "/root/testdata/sf0.001"

PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython",
              "FlatMapGroupsInPandas", "MapInPandas")

NEW_QUERIES = {
    "x67b_interval_cells": extensions_r14.QUERIES,
    "x205_embedding_health": extensions_r15.QUERIES,
    "x206_watermark_audit": extensions_r16.QUERIES,
    "x200_concurrency_profile": extensions_r17.QUERIES,
    "x201_degree_assortativity": extensions_r18.QUERIES,
    "x202_readability_forcast": extensions_r19.QUERIES,
    "x203_bucket_balance": extensions_r20.QUERIES,
    "x204_join_cardinality_audit": extensions_r20.QUERIES,
    "x207_dedup_quality_shift": extensions_r18.QUERIES,
    "x209_fact_consistency": extensions_r19.QUERIES,
    "x208_funnel_steps": extensions_r17.QUERIES,
    "x210_key_skew_certificate": extensions_r20.QUERIES,
}


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(NEW_QUERIES))
def test_no_cartesian_no_python(spark, name):
    ex = _executed(NEW_QUERIES[name][name](spark, SF))
    assert "CartesianProduct" not in ex, name
    for marker in PY_MARKERS:
        assert marker not in ex, (name, marker)


def test_interval_cells_equi_joins_only(spark):
    ex = _executed(
        extensions_r14.QUERIES["x67b_interval_cells"](spark, SF)
    )
    assert "BroadcastNestedLoopJoin" not in ex
    assert ("SortMergeJoin" in ex) or ("BroadcastHashJoin" in ex) \
        or ("ShuffledHashJoin" in ex)


def test_readability_is_one_keyed_aggregate(spark):
    ex = _executed(
        extensions_r19.QUERIES["x202_readability_forcast"](spark, SF)
    )
    assert "Join" not in ex
    assert "HashAggregate" in ex


def test_bucket_balance_single_bnlj_is_the_one_row_total(spark):
    ex = _executed(
        extensions_r20.QUERIES["x203_bucket_balance"](spark, SF)
    )
    assert ex.count("BroadcastNestedLoopJoin") == 1


def test_join_audit_is_equi_full_outer(spark):
    ex = _executed(
        extensions_r20.QUERIES["x204_join_cardinality_audit"](
            spark, SF
        )
    )
    assert "FullOuter" in ex
    assert "BroadcastNestedLoopJoin" not in ex


def test_embedding_health_generate_then_keyed_agg(spark):
    ex = _executed(
        extensions_r15.QUERIES["x205_embedding_health"](spark, SF)
    )
    assert "Generate" in ex  # posexplode stayed JVM-side
    assert "keys=[dim" in ex


def test_fact_consistency_keyed_sum_before_join(spark):
    """The lineitem side reduces to one row per order BEFORE meeting
    orders - the audit never carries line-level rows through the
    join."""
    ex = _executed(
        extensions_r19.QUERIES["x209_fact_consistency"](spark, SF)
    )
    assert "CartesianProduct" not in ex
    # cents aggregate keyed by okey appears below the join
    assert "keys=[okey" in ex
