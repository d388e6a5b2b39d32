"""Score-calibration reliability bins — model-QA for scored corpora.

A quality/classifier score is *calibrated* when items scored ~p are
positive ~p of the time. The reliability table — score bins vs
observed positive rate — is how that's audited before a score is used
as a sampling weight or filter threshold (x35's temperature mixing and
x33's source caps both consume scores; this operator is their
pre-flight check).

Exactness: scores arrive as integer permille (the engine's standard
quantization, cf. operators/vector_kernel.QUANT); bins are permille DIV
bin_width; per-bin positives / counts / mean score are pure int64, and
the observed-rate and mean-score renderings use the engines' shared
truncating integer division. The calibration gap (observed rate minus
mean predicted score) certifies exactly — including its sign.

Scale shape: one keyed aggregate, output bounded by the bin count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def calibration_bins(
    df: DataFrame,
    score_permille: Column,
    is_positive: Column,
    bin_width: int = 100,
) -> DataFrame:
    """Reliability table over integer-permille scores.

    ``score_permille``: int64 column (0..1000 scale). ``is_positive``:
    boolean column. Output per bin: ``bin`` (= score DIV bin_width),
    ``n``, ``n_pos``, ``mean_score_permille`` (= sum(score) DIV n),
    ``pos_permille`` (= 1000*n_pos DIV n) and ``gap_permille`` =
    pos_permille - mean_score_permille (positive ⇒ the score
    UNDER-predicts the positive rate in that bin).
    """
    if int(bin_width) < 1:
        raise ValueError(f"bin_width must be >= 1 (got {bin_width})")
    binned = df.select(
        (score_permille.cast("long")).alias("__score"),
        is_positive.cast("int").alias("__pos"),
    ).withColumn("bin", F.expr(f"__score DIV {int(bin_width)}"))
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__pos").alias("n_pos"),
            F.sum("__score").alias("__score_sum"),
        )
        .withColumn(
            "mean_score_permille", F.expr("__score_sum DIV n")
        )
        .withColumn("pos_permille", F.expr("(1000 * n_pos) DIV n"))
        .withColumn(
            "gap_permille",
            F.col("pos_permille") - F.col("mean_score_permille"),
        )
        .drop("__score_sum")
    )
