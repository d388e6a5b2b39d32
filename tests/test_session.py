"""Session-level settings that change how work is reused across queries.

Spark keeps the classes it generates for a plan in an LRU cache; the
engine's passes need a few hundred distinct entries, so a cache smaller
than that recompiles every class on every pass. The test checks the
behaviour (Janino's compile count), not only the conf string."""


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_generated_code_survives_a_pass_of_distinct_plans(spark):
    first = "id * 5 + 3"
    spark.range(3).selectExpr(first).collect()
    # Each literal is inlined into the generated source, so every
    # projection is a distinct cache entry: 150 of them overflow
    # Spark's 100-entry default and evict the first one.
    for i in range(150):
        spark.range(3).selectExpr(f"id * {i + 7} + {i}").collect()
    before = _compiles(spark)
    assert spark.range(3).selectExpr(first).collect() == [
        (3,), (8,), (13,)
    ]
    assert _compiles(spark) == before
