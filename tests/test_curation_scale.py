"""Production Bloom decontamination
(``operators/curation.py::bloom_contamination_stats``) — the
``exact_audit=False`` flag from the r4 verdict (What's wrong #4).

Contract: identical (key, n_shingles, bloom_hits) to the audited
operator, but the plan must never join or exchange on a shingle STRING
— probes ride the shingle's h64 and the Bloom bit positions only.
"""

from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.curation import (
    bloom_contamination_stats,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def BENCH():
    return (F.col("doc_id") % 97) == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fast_path_matches_audited_counts(spark):
    docs = load_table(spark, SF, "documents")
    fast = bloom_contamination_stats(
        docs, "doc_id", "text", BENCH(), 4, exact_audit=False
    )
    audited = bloom_contamination_stats(docs, "doc_id", "text", BENCH(), 4)
    a = sorted(map(tuple, fast.collect()))
    b = sorted(
        (r["doc_id"], r["n_shingles"], r["bloom_hits"])
        for r in audited.collect()
    )
    assert a == b and len(a) > 0


def test_exact_audit_true_delegates(spark):
    docs = load_table(spark, SF, "documents")
    out = bloom_contamination_stats(
        docs, "doc_id", "text", BENCH(), 4, exact_audit=True
    )
    assert set(out.columns) == {
        "doc_id", "n_shingles", "bloom_hits", "exact_hits",
        "false_positives",
    }


def test_fast_plan_has_no_shingle_string_join(spark):
    docs = load_table(spark, SF, "documents")
    fast_plan = _plan(
        bloom_contamination_stats(
            docs, "doc_id", "text", BENCH(), 4, exact_audit=False
        )
    )
    # positive control: the audited plan DOES join on the string
    audit_plan = _plan(
        bloom_contamination_stats(docs, "doc_id", "text", BENCH(), 4)
    )
    def joins_on_shingle(plan: str) -> bool:
        return any(
            "Join" in line and "shingle" in line
            for line in plan.splitlines()
        )
    assert joins_on_shingle(audit_plan)
    assert not joins_on_shingle(fast_plan)
    # nor is any exchange partitioned by the shingle string
    assert not any(
        "Exchange" in line and "shingle" in line
        for line in fast_plan.splitlines()
    )


def test_fast_path_empty_benchmark(spark):
    """No benchmark docs → zero bits → every doc has bloom_hits 0."""
    docs = load_table(spark, SF, "documents")
    out = bloom_contamination_stats(
        docs, "doc_id", "text", F.lit(False), 4, exact_audit=False
    )
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["bloom_hits"] == 0 for r in rows)


def test_fast_path_empty_corpus(spark):
    docs = load_table(spark, SF, "documents")
    out = bloom_contamination_stats(
        docs, "doc_id", "text", F.lit(True), 4, exact_audit=False
    )
    assert out.count() == 0
