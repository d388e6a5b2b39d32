"""SparkSession factory.

One place to set the scale-sensitive knobs so every entry point (tests,
bench, driver contract) runs with the same, cluster-ready configuration:

- AQE on (runtime re-plan, partition coalescing, skew-join handling);
- Arrow on (vectorized pandas-UDF exchange for the ML layer);
- UTC session timezone (DuckDB-oracle comparability; DuckDB timestamps are
  UTC-naive);
- shuffle partitions sized to the local core count rather than the 200
  default (on a real cluster this is overridden via ``extra_conf`` or
  spark-submit; AQE coalescing makes the exact number forgiving);
- a generated-code cache large enough for the engine's working set, so
  a pipeline or query mix that runs again reuses its compiled classes
  instead of recompiling them all on every pass (Spark's 100-entry
  default is smaller than one pass).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "m5_competition_kaggle_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` controls both local parallelism and the shuffle-partition
    count; at cluster scale pass ``extra_conf`` to override anything here.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark's LRU cache of generated classes holds 100 entries by
        # default; one pass needs more, so with the default every pass
        # recompiles every class. Distinct entries per pass, measured on 4 cores:
        # ~150 for the vector/graph query mix, ~413 for an M5 pipeline
        # pass over 250 days, 253 of them the melt (its Expand has >100
        # input columns, so it runs outside whole-stage codegen with one
        # class per day column). At the full 1,941-day width the melt
        # needs 1,944 and the pass ~2,100; 4096 is the next power of
        # two. A static conf, read once per JVM when CodeGenerator first
        # loads: extra_conf on a running JVM cannot change it.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # InferFiltersFromGenerate duplicates the generator's input
        # expression into a pre-exchange Filter: for explode(<computed
        # array>) the whole tokenize/shingle expression then runs in the
        # SCAN stage (often 1 task) — measured 3s of single-threaded CPU
        # per branch on x20. Our exploded arrays are never empty/null, so
        # the inferred filter only burns CPU; exclude the rule.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # testdata events.parquet uses TIMESTAMP(NANOS) — read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout clean: the driver's bench harness tail-captures
        # stdout, and \r progress bars pollute the capture window
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Spark's ContextCleaner issues a periodic System.gc()
        # (spark.cleaner.periodicGC.interval); make every explicit GC a
        # CONCURRENT G1 cycle instead of a stop-the-world full GC so it
        # never pauses a timed query (the r14 periodic-GC A/B failed
        # precisely because full-GC pauses landed inside queries).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
