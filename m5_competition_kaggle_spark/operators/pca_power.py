"""Top principal direction by integer power iteration — distributed,
deterministic, no driver math.

PCA's workhorse at scale: the dominant eigenvector of the Gram matrix
G = Σ v·vᵀ over quantized embeddings. Everything stays int64:

- G is EXACT (products of quantized components, summed);
- each power-iteration round is the exact integer matvec
  w = G·v followed by an integer rescale v' = w DIV (max|w| DIV
  1000 + 1), which keeps components in [-1000, 1000] without
  touching floating point — so there is no summation-order
  sensitivity anywhere and the result hash-certifies against an
  unrolled SQL twin.

Scale design: the Gram matrix never materializes per row — an
Arrow-batched ``mapInPandas`` emits ONE d×d partial per partition
(a numpy int64 syrk per Arrow batch), and a (i, j)-keyed sum merges
them: shuffle volume is d² rows per partition, independent of row
count. The iteration then runs on the bounded d²-row table with
broadcast d-row vectors — cost is O(d²) per round regardless of
corpus size. Overflow contract: d · max|G| · 1000 < 2^63, i.e.
N · max|q|² < 1.4e14 for d = 64 — quantize coarser beyond that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.similarity import (
    quantize_expr,
)


def gram_matrix(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int64 Gram matrix of the quantized ``vec_col`` as a
    (i, j, g) DataFrame — one d×d partial per Arrow batch, merged by
    one keyed aggregation."""
    import numpy as np
    import pandas as pd

    q = vectors.select(quantize_expr(vec_col).alias("__q"))

    def partial(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["__q"].tolist(), dtype=np.int64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is not None:
            d = acc.shape[0]
            i, j = np.meshgrid(
                np.arange(d), np.arange(d), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": i.ravel().astype("int32"),
                    "j": j.ravel().astype("int32"),
                    "g": acc.ravel(),
                }
            )

    parts = q.mapInPandas(partial, "i int, j int, g long")
    return parts.groupBy("i", "j").agg(F.sum("g").alias("g"))


def _rescale(w: DataFrame) -> DataFrame:
    """v' = w DIV (max|w| DIV 1000 + 1) — integer normalization into
    [-1000, 1000]; the divisor is a 1-row broadcast, never driver
    math."""
    mx = w.agg(F.max(F.abs(F.col("v"))).alias("__m"))
    return (
        w.crossJoin(F.broadcast(mx))
        .withColumn("v", F.expr("v DIV (__m DIV 1000 + 1)"))
        .drop("__m")
    )


def power_iteration(
    gram: DataFrame, rounds: int = 3
) -> DataFrame:
    """``rounds`` integer power-iteration rounds from the all-ones
    start vector over the (i, j, g) Gram table.

    Output one row per dimension i: v_raw (the final un-rescaled
    matvec component) and v_permille = (1000·v_raw) DIV max|v_raw| —
    the dominant-direction reading. Fully deterministic: integer
    matvecs are order-independent, ties need no breaking."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")
    # The bounded d²-row Gram table appears once per round in the
    # unrolled plan (plus once per rescale's max), so its corpus-wide
    # mapInPandas lineage would re-run ~2^rounds times — truncate it
    # (the x58 lesson; lazy localCheckpoint, materialized on first
    # use).
    gram = materialize(gram, eager=False)
    v = gram.select(F.col("i").alias("j")).distinct().withColumn(
        "v", F.lit(1).cast("long")
    )
    w = v
    for r in range(rounds):
        w = (
            gram.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("v"))
        )
        if r < rounds - 1:
            # w feeds both the rescale max and the next matvec —
            # truncate the d-row vector each round or the unrolled
            # plan re-runs prior rounds ~2^rounds times (cheap here,
            # but the rounds parameter invites the blowup).
            w = materialize(w, eager=False)
            v = _rescale(w).select(F.col("i").alias("j"), "v")
    mx = w.agg(F.max(F.abs(F.col("v"))).alias("__m"))
    return (
        w.crossJoin(F.broadcast(mx))
        .select(
            "i",
            F.col("v").alias("v_raw"),
            F.when(
                F.col("__m") > 0, F.expr("(1000 * v) DIV __m")
            ).alias("v_permille"),
        )
    )
