"""Streaming interval join (operators/interval.py): live points
joined to static windows must equal the batch twin bit-for-bit, with
ZERO join state (stateless bucket probe; only the final count is a
streaming aggregate)."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from m5_competition_kaggle_spark.sources.catalog import load_table
from m5_competition_kaggle_spark.operators.interval import (
    expanded_intervals,
    streaming_interval_join,
)

SF = "/root/testdata/sf0.001"
HALF_HOUR = 30 * 60 * 1_000_000_000
QUARTER_HOUR = 15 * 60 * 1_000_000_000


def _sides(spark):
    ev = load_table(spark, SF, "events")
    points = ev.select(
        F.col("event_id").alias("p_event_id"),
        F.col("ts_nanos").alias("p_tsn"),
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts_nanos").alias("w_start"),
        (F.col("ts_nanos") + F.lit(HALF_HOUR)).alias("w_end"),
    )
    exp = expanded_intervals(
        incidents, "w_start", "w_end", QUARTER_HOUR).persist()
    return points, exp


def test_stream_equals_batch_matches(spark):
    points, exp = _sides(spark)
    batch = (
        streaming_interval_join(
            points, exp, "p_tsn", "w_start", "w_end", QUARTER_HOUR)
        .groupBy("incident_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    expected = sorted(map(tuple, batch.collect()))
    assert expected

    d = tempfile.mkdtemp(prefix="events_interval_stream_")
    try:
        points.coalesce(1).write.mode("overwrite").parquet(d)
        stream_pts = spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d)
        out = (
            streaming_interval_join(
                stream_pts, exp, "p_tsn", "w_start", "w_end",
                QUARTER_HOUR)
            .groupBy("incident_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName("interval_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = sorted(map(
                tuple,
                spark.sql("SELECT * FROM interval_out").collect()))
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


def test_join_itself_is_stateless(spark):
    """Without the final aggregate, the streaming plan must carry no
    stateful operator — the range join itself holds zero state."""
    points, exp = _sides(spark)
    d = tempfile.mkdtemp(prefix="events_interval_stream2_")
    try:
        points.limit(100).coalesce(1).write.mode(
            "overwrite").parquet(d)
        stream_pts = spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d)
        out = streaming_interval_join(
            stream_pts, exp, "p_tsn", "w_start", "w_end", QUARTER_HOUR)
        # append mode without watermark is only legal when the query is
        # completely stateless — starting it IS the assertion.
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("interval_stateless")
            .start()
        )
        try:
            q.processAllAvailable()
            n = spark.sql(
                "SELECT count(*) c FROM interval_stateless"
            ).collect()[0].c
        finally:
            q.stop()
        assert n > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
