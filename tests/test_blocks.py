"""The between-queries release valve frees only the engine's own fills,
and reports failures instead of swallowing them."""

import logging
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import (
    materialize,
    release_persistent_blocks,
)
from m5_competition_kaggle_spark.queries import _with_block_release

LOGGER = "m5_competition_kaggle_spark.blocks"


class _Rdd:
    def __init__(self, fail: bool):
        self.fail = fail
        self.released = False

    def unpersist(self, blocking):
        if self.fail:
            raise RuntimeError("block manager gone")
        self.released = True


def _fake_spark(rdds=None, enumerate_error=None):
    def get_persistent_rdds():
        if enumerate_error:
            raise enumerate_error
        return dict(enumerate(rdds))

    jsc = SimpleNamespace(getPersistentRDDs=get_persistent_rdds)
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=jsc, applicationId="fake-app")
    )
    # record every fake RDD as a fill, the way materialize does
    for rid in range(len(rdds or [])):
        plan = SimpleNamespace(rdd=lambda rid=rid: SimpleNamespace(
            id=lambda: rid
        ))
        filled = SimpleNamespace(
            _jdf=SimpleNamespace(logicalPlan=lambda plan=plan: plan)
        )
        materialize(SimpleNamespace(
            sparkSession=spark, localCheckpoint=lambda eager: filled
        ))
    return spark


def test_release_counts_and_warns_on_unpersist_failures(caplog):
    rdds = [_Rdd(False), _Rdd(True), _Rdd(False), _Rdd(True)]
    with caplog.at_level(logging.WARNING, LOGGER):
        n = release_persistent_blocks(_fake_spark(rdds))
    assert n == 2
    assert [r.released for r in rdds] == [True, False, True, False]
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    msg = warnings[0].getMessage()
    assert "2 of 4" in msg and "block manager gone" in msg


def test_release_is_quiet_when_everything_unpersists(caplog):
    with caplog.at_level(logging.WARNING, LOGGER):
        assert release_persistent_blocks(_fake_spark([_Rdd(False)])) == 1
    assert not caplog.records


def test_release_raises_when_rdds_cannot_be_listed():
    with pytest.raises(RuntimeError, match="context stopped"):
        release_persistent_blocks(
            _fake_spark(enumerate_error=RuntimeError("context stopped"))
        )


# Two queries wrapped exactly as the registry wraps every entry.
@_with_block_release
def _query_a(spark, sf_dir):
    fill = materialize(spark.range(40).withColumn("g", F.col("id") % 4))
    return fill.groupBy("g").agg(F.count(F.lit(1)).alias("n"))


@_with_block_release
def _query_b(spark, sf_dir):
    return spark.range(5)


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_keeps_a_caller_cache(spark):
    cached = spark.range(100).cache()
    before = _persistent_ids(spark)
    cached.count()
    (rid,) = _persistent_ids(spark) - before
    try:
        _query_a(spark, None).collect()
        _query_b(spark, None)
        assert rid in _persistent_ids(spark)
        assert cached.count() == 100
    finally:
        cached.unpersist()


def test_fills_live_until_the_next_query_entry(spark):
    before = _persistent_ids(spark)
    a = _query_a(spark, None)
    fills = _persistent_ids(spark) - before
    assert fills
    assert sorted(a.collect()) == [(g, 10) for g in range(4)]
    assert fills <= _persistent_ids(spark)
    _query_b(spark, None)
    assert not fills & _persistent_ids(spark)


def test_query_is_invalid_once_the_next_is_built(spark):
    """A query's DataFrame is valid until the next registered query is
    built: consuming it afterwards fails loudly, never with rows."""
    a = _query_a(spark, None)
    _query_b(spark, None)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        a.collect()
