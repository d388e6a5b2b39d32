"""Integer-exact perceptron step (ml/quality.py) — the certified
training-arithmetic twin of x28's fit.
"""

from pyspark.sql import functions as F

from m5_competition_kaggle_spark.ml.quality import (
    fixed_weight_logits,
    perceptron_step,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_zero_gradient_at_consistent_labels(spark):
    """If the label IS the model's prediction (x44's keep), every error
    term is 0, the gradient vanishes, and w1 == w0 — the perceptron
    fixed-point property, exact in integers."""
    docs = load_table(spark, SF, "documents")
    keep = fixed_weight_logits(docs).select("doc_id", "keep")
    labeled = docs.join(keep, "doc_id")
    out = perceptron_step(labeled, F.col("keep")).collect()
    assert len(out) > 0
    assert all(r["grad_units"] == 0 for r in out)
    assert all(r["w1_units"] == r["w0_units"] for r in out)


def test_update_moves_weights_against_error(spark):
    """With all labels 0, every kept doc contributes err=+1, so each
    bucket's gradient is the summed tf over kept docs — positive where
    any kept doc uses the bucket — and w1 = w0 − grad decreases there."""
    docs = load_table(spark, SF, "documents")
    out = perceptron_step(docs, F.lit(0)).collect()
    kept = fixed_weight_logits(docs).filter(F.col("keep") == 1).count()
    assert kept > 0
    assert any(r["grad_units"] > 0 for r in out)
    assert all(
        r["w1_units"] == r["w0_units"] - r["grad_units"] for r in out
    )
    assert all(r["grad_units"] >= 0 for r in out)  # errors are all +1/0


def test_buckets_unique_and_bounded(spark):
    docs = load_table(spark, SF, "documents")
    rows = perceptron_step(
        docs, (F.col("n_chars") >= 200).cast("int")
    ).collect()
    buckets = [r["bucket"] for r in rows]
    assert len(buckets) == len(set(buckets))
    assert all(0 <= b < 4096 for b in buckets)
