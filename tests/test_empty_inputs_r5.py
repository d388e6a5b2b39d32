"""Empty-input robustness for the r5 operators (same contract as
tests/test_empty_inputs.py: empty in → empty, correctly-typed out,
never a throw)."""

from pyspark.sql import functions as F

from m5_competition_kaggle_spark.ml.quality import perceptron_step
from m5_competition_kaggle_spark.operators.cms import (
    cms_build,
    cms_estimate,
)
from m5_competition_kaggle_spark.operators.quantiles import (
    exact_quantiles,
    hist_quantiles,
    hist_sketch,
)
from m5_competition_kaggle_spark.operators.semantic_dedup import (
    semantic_dedup,
)
from m5_competition_kaggle_spark.operators.shuffle import seeded_shuffle
from m5_competition_kaggle_spark.operators.similarity import lsh_topk


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _empty_vecs(spark):
    return spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )


def test_cms_on_empty(spark):
    items = spark.createDataFrame([], "token string")
    sketch = cms_build(items, "token")
    assert sketch.count() == 0
    assert cms_estimate(sketch, items, "token").count() == 0


def test_quantiles_on_empty(spark):
    e = spark.createDataFrame([], "value double")
    assert exact_quantiles(e, "value").count() == 0
    assert hist_quantiles(e, "value").count() == 0
    assert hist_sketch(e, "value").count() == 0


def test_shuffle_on_empty(spark):
    assert seeded_shuffle(_empty_docs(spark), "doc_id").count() == 0


def test_semantic_dedup_on_empty(spark):
    assert semantic_dedup(_empty_vecs(spark), 350_000).count() == 0


def test_lsh_auto_on_empty(spark):
    out = lsh_topk(
        _empty_vecs(spark), _empty_vecs(spark), k=5, num_planes=None
    )
    assert out.count() == 0  # auto planes clamps to 1 at n=0


def test_perceptron_step_on_empty(spark):
    out = perceptron_step(_empty_docs(spark), F.lit(1))
    assert out.count() == 0
