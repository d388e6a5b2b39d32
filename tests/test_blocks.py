"""The between-queries release valve reports failures instead of
swallowing them."""

import logging
from types import SimpleNamespace

import pytest

from m5_competition_kaggle_spark.blocks import release_persistent_blocks

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
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))


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
