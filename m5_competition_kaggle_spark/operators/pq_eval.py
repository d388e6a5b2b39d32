"""Product-quantization distortion audit — per-subspace encoding
error of the x72 PQ construction (``operators/similarity_pq.py``).

PQ replaces each dim/m sub-vector by its nearest codebook entry; ADC
distance estimates are then sums of per-subspace table lookups, so
the ESTIMATION error an index user eats is exactly the per-subspace
quantization error this operator certifies: total / mean / max exact
int64 squared L2 between every sub-vector and its assigned code. A
subspace whose mean error dwarfs the others needs more codes (or a
coordinate rotation) before its ADC estimates are trustworthy —
the compression-side sibling of x137's IVF occupancy health audit.

Same determinism contract as similarity_pq: the
``operators/vector_kernel.py`` squared L2 and nearest-centroid rule
over the k-lowest-id seed codebook. Scale: encode is one
map-side pass against the broadcast codebook (m×k tiny rows); the
audit is a keyed aggregation to m rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    nearest_centroids,
    quantized,
    seed_codebook,
    subspaces,
)


def pq_distortion(
    vectors: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-subspace distortion of the PQ encoding: (s, n_vectors,
    total_err, mean_err, max_err), one row per subspace 0..m−1.
    ``dim`` must divide by ``m``."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError("m must divide dim")
    qz = quantized(vectors, id_col, vec_col, ("__id", "__v"))
    cents = subspaces(
        seed_codebook(qz, n_codes, "__id", "__v"), "cid", "cv", m, sub
    )
    best = nearest_centroids(
        subspaces(qz, "__id", "__v", m, sub), cents, ["__id", "s"], "__v",
        "l2", score="__d", on="s",
    ).select("s", "__d")
    return (
        best.groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("__d").cast("long").alias("total_err"),
            F.max("__d").cast("long").alias("max_err"),
        )
        .select(
            "s",
            "n_vectors",
            "total_err",
            F.expr("total_err DIV n_vectors").alias("mean_err"),
            "max_err",
        )
    )
