"""Perceptual-hash near-duplicate detection for opaque binary assets.

The multimodal member of the dedup family: where MinHash/SimHash key on
text shingles, perceptual hashing keys on DECODED MEDIA CONTENT — an
average-hash (aHash) over a fixed grid of luma samples, so two assets
whose pixels differ slightly still collide. The Spark-side pipeline is
the production shape end-to-end:

1. decode each asset to a fixed-length sample vector;
2. threshold each sample against the asset's own mean → one bit each
   (the aHash);
3. LSH-band the hash (3 bands here) and equi-join per band — pigeonhole
   guarantees every pair within Hamming distance 2 shares at least one
   exact band, so candidate generation is a keyed join, never all-pairs;
4. verify candidates with the exact popcount of the XOR.

Codec boundary: real image decoding needs libs this container lacks
(``multimodal/ops.py`` documents the boundary). The deterministic fake
decoder used here derives 15 4-bit "luma samples" from the md5 of the
asset's content — the certified query (x81) exercises the identical
plumbing (hashing, banding, keyed join, popcount verify) with an
engine-independent decode, and a real codec drops in by replacing the
sample expression with an Arrow-batched ``mapInPandas`` decode emitting
the same (id, samples) contract.

All arithmetic is integer (nibble extraction by division/modulus with
Python-side literal constants — no floating ``pow`` anywhere, banding
by division, Hamming by ``bit_count(a XOR b)``), so the result
certifies hash-exact against an ANSI-SQL twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.functions.text import h64

N_SAMPLES = 15  # 15 nibbles of one md5-derived h64 → 15-bit aHash
BAND_BITS = 5  # 3 bands × 5 bits; catches every pair with Hamming ≤ 2


def ahash(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """(id, phash): the 15-bit average hash of each asset.

    Samples are the 15 nibbles of ``h64(content)`` (deterministic fake
    decode, most-significant nibble first). Bit j is 1 iff sample_j is
    strictly above the asset mean, compared without division:
    ``15 * sample_j > Σ samples``.
    """
    n = N_SAMPLES
    out = df.select(
        F.col(id_col), h64(F.col(content_col)).alias("__h")
    )
    nibs = [
        F.expr(f"(__h DIV {16 ** (n - 1 - j)}) % 16").alias(f"__p{j}")
        for j in range(n)
    ]
    out = out.select(id_col, *nibs)
    total = sum((F.col(f"__p{j}") for j in range(n)), F.lit(0))
    out = out.withColumn("__s", total)
    phash = sum(
        (
            F.when(
                F.lit(n) * F.col(f"__p{j}") > F.col("__s"), F.lit(2 ** j)
            ).otherwise(F.lit(0))
            for j in range(n)
        ),
        F.lit(0),
    )
    return out.select(id_col, phash.cast("long").alias("phash"))


def phash_near_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    max_hamming: int = 2,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Asset pairs (id_a < id_b) whose aHashes differ in at most
    ``max_hamming`` bits. Banded candidate generation (3 × 5-bit bands,
    exact for max_hamming ≤ 2 by pigeonhole), exact popcount verify.

    ``partition_cols`` restricts pairing to assets sharing those
    columns (e.g. per-source dedup) — the columns join into the band
    key, so they also shrink every bucket.

    Output: [partition_cols...,] id_a, id_b, hash_a, hash_b, hamming.
    """
    if max_hamming > 2:
        raise ValueError("3 bands are exact only for Hamming <= 2")
    parts = list(partition_cols)
    keyed = ahash(df, id_col, content_col)
    if parts:
        keyed = df.select(id_col, *parts).join(keyed, id_col)
    bands = keyed.select(
        F.col(id_col),
        *parts,
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_no"),
                        F.expr(
                            f"(phash DIV {2 ** (BAND_BITS * k)})"
                            f" % {2 ** BAND_BITS}"
                        ).alias("band_val"),
                    )
                    for k in range(3)
                ]
            )
        ).alias("b"),
    ).select(
        id_col,
        *parts,
        "phash",
        F.col("b.band_no").alias("band_no"),
        F.col("b.band_val").alias("band_val"),
    )
    left = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("phash").alias("hash_a"),
        *parts,
        "band_no",
        "band_val",
    )
    right = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("phash").alias("hash_b"),
        *parts,
        "band_no",
        "band_val",
    )
    # Partition columns join into the band key: same-partition-only
    # candidates, and every bucket shrinks by the partition split.
    cand = (
        left.join(right, ["band_no", "band_val", *parts])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*parts, "id_a", "id_b", "hash_a", "hash_b")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.expr("bit_count(hash_a ^ hash_b)").cast("long")
    ).filter(F.col("hamming") <= int(max_hamming))
