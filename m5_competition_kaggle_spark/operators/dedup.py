"""Deduplication operators for large-scale training-data pipelines.

Extension surface (the reference has none of this): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard. All built from DataFrame
primitives — every stage is a shuffle-on-key or a broadcast, no Python in
the hot path, so the same plan scales from 500 docs to 100 TB:

- exact:   one hash-groupBy (map-side partial agg).
- minhash: explode shingles → 1 groupBy(doc) for the whole signature →
           unpivot bands → self-join on (band, key) → verify exact jaccard
           only on the (tiny) candidate set. The LSH band join is what
           bounds the candidate set at scale — never all-pairs.
- simhash: explode tokens → 1 groupBy(doc) with 2·bits conditional sums.
- ngram:   shared-shingle equi-join → jaccard from per-doc shingle counts;
           quadratic only within a shingle bucket (use minhash_lsh for
           corpora where buckets get hot).

Determinism: all hashing via ``functions.text.h64`` (md5-based) so a SQL
oracle can replicate results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.functions.text import (
    h64,
    h64_py,
    shingles_expr,
    tokens,
)

# Universal-hash permutation family for MinHash: mh_i = (A_i·h + B_i) mod P
# over h = h64(shingle) mod P. One md5 per shingle total; the permutations
# are integer arithmetic (vs. one md5 per shingle PER permutation). P is the
# Mersenne prime 2^31−1 so A·h < 2^62 never overflows a signed 64-bit.
# A/B derive from the same md5 recipe, so a SQL oracle can embed them as
# literals (minhash_params()).
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            h64_py(f"a:{i}") % (MINHASH_P - 1) + 1,
            h64_py(f"b:{i}") % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def exact_dup_groups(df: DataFrame, key_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group identical texts by md5, keep the min-key canonical
    row id and the duplicate count."""
    return (
        df.select(F.col(key_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(key_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition on the key so per-document CPU work (tokenize,
    shingle, md5) parallelizes even when the source arrived as one file /
    partition. One tiny shuffle of raw rows buys full-width execution;
    at real scale inputs are already many splits and this is a no-op cost."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, key_col)


def doc_shingles(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    shingle_size: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """(key, shingle) pairs, distinct per document (set semantics).

    ``tokens_col`` names an existing ``array<string>`` token column to
    shingle instead of re-tokenizing ``text_col`` — pipelines that shingle
    the same corpus at several widths (e.g. x29: 4-gram decontamination +
    3-gram minhash) tokenize once, persist, and pass the column through.
    In that mode the caller repartitions BEFORE persisting (the token
    arrays are already spread) — re-shuffling them here per consumer would
    move the widest rows in the pipeline several extra times.
    """
    out = (
        df.withColumn("__toks", F.col(tokens_col))
        if tokens_col
        else _spread(df, key_col).withColumn("__toks", tokens(text_col))
    )
    out = out.withColumn(
        "__sh", F.array_distinct(shingles_expr("__toks", shingle_size))
    )
    return out.select(F.col(key_col), F.explode("__sh").alias("shingle"))


def minhash_signatures(
    df: DataFrame,
    key_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash signature per document: ``mh_i = min over shingles of
    (A_i·h64(shingle) + B_i) mod P``. One explode + one groupBy computes the
    whole signature; the shingle is md5-hashed ONCE and the ``num_hashes``
    permutations are integer arithmetic folded into a single aggregate."""
    sh = doc_shingles(df, key_col, text_col, shingle_size).withColumn(
        "__h", h64(F.col("shingle")) % MINHASH_P
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return sh.groupBy(key_col).agg(*aggs)


def minhash_band_buckets(
    signatures: DataFrame, key_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(key, band, bucket) rows: bucket = md5 of the band's signature slice.
    Docs sharing any (band, bucket) are near-dup candidates."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws(",", *cols)).alias(f"band_{b}")
        )
    wide = signatures.select(F.col(key_col), *band_cols)
    return wide.unpivot(
        [key_col], [f"band_{b}" for b in range(bands)], "band", "bucket"
    )


def candidate_pairs(buckets: DataFrame, key_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any LSH bucket."""
    a = buckets.select(
        F.col(key_col).alias("id_a"), "band", "bucket"
    )
    b = buckets.select(
        F.col(key_col).alias("id_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, shingle_sets: DataFrame, key_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    ``shingle_sets`` is the ``doc_shingles`` output. The common-shingle
    count comes from a (pairs ⋈ shingles ⋈ shingles) equi-join on shingle;
    pairs is small after LSH, so Catalyst/AQE broadcasts it.
    """
    sizes = shingle_sets.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_sh"))
    e1 = shingle_sets.select(F.col(key_col).alias("id_a"), "shingle")
    e2 = shingle_sets.select(F.col(key_col).alias("id_b"), "shingle")
    common = (
        pairs.join(e1, "id_a")
        .join(e2, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(key_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(key_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.8,
    tokens_col: str | None = None,
    eager_checkpoint: bool = True,
) -> DataFrame:
    """Near-duplicate pairs: MinHash → LSH bands → exact-jaccard verify.

    The full composition; returns (id_a, id_b, n_common, n_a, n_b, jaccard)
    for verified pairs ≥ threshold.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    # The shingle explode feeds both the signatures and the verify joins —
    # materialize it once instead of re-tokenizing the corpus three times.
    # ``eager_checkpoint=False`` (r15, the x29 action-collapse): callers
    # composing this into a pipeline whose next blocking action consumes
    # the pairs anyway can let the shingle blocks materialize inside
    # that action — one job fewer, identical blocks and results.
    sh = materialize(
        doc_shingles(
            df, key_col, text_col, shingle_size, tokens_col=tokens_col
        ),
        eager=eager_checkpoint,
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    sigs = (
        sh.withColumn("__h", h64(F.col("shingle")) % MINHASH_P)
        .groupBy(key_col)
        .agg(*aggs)
    )
    buckets = minhash_band_buckets(sigs, key_col, num_hashes, bands)
    pairs = candidate_pairs(buckets, key_col)
    return verify_jaccard(pairs, sh, key_col).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-candidate n-gram Jaccard: every pair sharing ≥1 shingle is
    scored exactly. Complete (no LSH misses) but quadratic within shingle
    buckets — the small-corpus / high-precision path.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    # One materialized shingle explode feeds both join sides and the sizes.
    sh = materialize(doc_shingles(df, key_col, text_col, shingle_size))
    e1 = sh.select(F.col(key_col).alias("id_a"), "shingle")
    e2 = sh.select(F.col(key_col).alias("id_b"), "shingle")
    # Count common shingles directly off the join — materializing the
    # distinct pair set first and re-joining would walk the same join twice.
    common = (
        e1.join(e2, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col(key_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(key_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    shingle_size: int = 3,
    threshold_permille: int = 900,
    tokens_col: str | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs where containment(a in b) =
    |Sa ∩ Sb| / |Sa| ≥ threshold — catches a short document embedded in
    a longer one, which symmetric Jaccard misses (the union in its
    denominator grows with the long side). The quote/excerpt/boilerplate
    detector of a curation pipeline.

    The threshold is an integer permille compared as ``n_common·1000 ≥
    thr·n_a`` — pure BIGINT math, so a SQL oracle reproduces the exact
    pair set with no float-rounding edge at the boundary.

    Scale shape mirrors ``ngram_jaccard_pairs``: one shared-shingle
    equi-join (quadratic only within a shingle bucket — swap in the LSH
    candidate generator for corpora with hot shingles), keyed aggregates
    for sizes and intersections.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    sh = materialize(doc_shingles(
        df, key_col, text_col, shingle_size, tokens_col=tokens_col
    ))
    e1 = sh.select(F.col(key_col).alias("id_a"), "shingle")
    e2 = sh.select(F.col(key_col).alias("id_b"), "shingle")
    common = (
        e1.join(e2, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col(key_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        common.join(sa, "id_a")
        .filter(
            F.col("n_common") * 1000
            >= F.lit(threshold_permille) * F.col("n_a")
        )
        .withColumn(
            "containment_permille", F.expr("(n_common * 1000) div n_a")
        )
        .select("id_a", "id_b", "n_common", "n_a", "containment_permille")
    )


def simhash(
    df: DataFrame, key_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash over the token multiset (frequency-weighted): bit b of the
    result is the sign of Σ_tokens (±1 by token-hash bit b).

    One explode + one groupBy with ``bits`` conditional sums — entirely
    map-side-combinable.
    """
    tok = _spread(df, key_col).select(
        F.col(key_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", h64(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(h div {1 << b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy(key_col).agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select(F.col(key_col), sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, key_col: str, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, LSH-style: split the
    hash into ``max_hamming + 1`` bit-blocks (two hashes within the
    distance must agree on ≥1 whole block), equi-join per block, then
    exact hamming filter via popcount."""
    blocks = max_hamming + 1
    width = bits // blocks
    pieces = [
        F.expr(f"(simhash div {1 << (i * width)}) % {1 << width}").alias(f"blk_{i}")
        for i in range(blocks)
    ]
    keyed = sims.select(F.col(key_col), F.col("simhash"), *pieces)
    keyed = keyed.unpivot(
        [key_col, "simhash"], [f"blk_{i}" for i in range(blocks)], "blk", "val"
    )
    a = keyed.select(
        F.col(key_col).alias("id_a"), F.col("simhash").alias("sim_a"), "blk", "val"
    )
    b = keyed.select(
        F.col(key_col).alias("id_b"), F.col("simhash").alias("sim_b"), "blk", "val"
    )
    pairs = (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.expr("sim_a ^ sim_b"))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")
