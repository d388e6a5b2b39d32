"""Sampled pairwise-distance histogram over an embedding corpus —
the tuning diagnostic every distance-thresholded operator in the ANN
stack (x12 near-dup, x51 semantic dedup, IVF probe radii) implicitly
depends on: WHERE does the corpus' distance mass sit? Choosing a
near-dup threshold without this histogram is guessing.

The estimator is the standard sampled all-pairs: take the
deterministic id-modulus sample the certified query sets already use
(vec_id % m == 0), form all sample pairs, and histogram the EXACT
int64 squared L2 distances into fixed-width buckets. Pair count is
(N/m)²/2 — quadratic in the SAMPLE, so m is the corpus-scale knob
(documented; m ~ √corpus keeps pairs constant). The pair join
broadcasts the sample against itself (k-row BNLJ, the x142 audit
precedent) — never a corpus-wide cartesian."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    int_sqdist,
    quantized,
)


def pair_distance_histogram(
    vectors: DataFrame,
    modulus: int = 25,
    bucket_width: int = 50_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Histogram of exact squared-L2 distances over all pairs of the
    ``id % modulus == 0`` sample. Output per bucket (= d² DIV
    bucket_width): bucket, n_pairs, min_d2, max_d2 — all exact
    int64."""
    if modulus < 1 or bucket_width < 1:
        raise ValueError("need modulus >= 1 and bucket_width >= 1")
    s = quantized(
        vectors.filter(F.col(id_col) % F.lit(int(modulus)) == 0),
        id_col, vec_col,
    )
    b = s.select(F.col("vid").alias("wid"), F.col("v").alias("w"))
    pairs = s.join(
        F.broadcast(b), F.col("vid") < F.col("wid"), "inner"
    ).select(int_sqdist("v", "w").alias("d2"))
    return (
        pairs.groupBy(
            F.expr(f"d2 DIV {int(bucket_width)}").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
        )
    )
