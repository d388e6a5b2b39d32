"""Incremental near-dup detection: a NEW batch against an EXISTING
corpus — the shape production dedup actually runs in.

``minhash_lsh_pairs`` (x2/x24) answers "which pairs in THIS corpus are
near-dups" — a full self-join every run. A growing corpus instead asks
daily: "which of TODAY'S documents duplicate anything we already have
(or each other)?" This operator is that asymmetric form:

- the corpus side contributes only its minhash SIGNATURES and band
  buckets — in production these are computed once at ingest and stored
  (they are tiny per doc: num_hashes ints), so the per-batch cost is
  shingling the NEW batch plus keyed band-bucket probes, never
  re-scanning corpus text;
- candidates = (new × corpus) band collisions, plus (new × earlier-new)
  within the batch — "earlier" by id keeps the batch internally
  deduped with the same keep-first rule;
- verify = exact shingle Jaccard on candidates only, as everywhere.

Signatures are side-independent (same h64/permutation formulas), so
this finds EXACTLY the full self-join's verified pairs restricted to
(new × corpus ∪ new × earlier-new) — which is what the x60 oracle
checks by deriving its truth from the full-corpus vstats CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.functions.text import h64
from m5_competition_kaggle_spark.operators.dedup import (
    MINHASH_P,
    doc_shingles,
    minhash_band_buckets,
    minhash_params,
    verify_jaccard,
)


def _signatures(sh: DataFrame, key_col: str, num_hashes: int) -> DataFrame:
    aggs = [
        F.min(
            (F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return (
        sh.withColumn("__h", h64(F.col("shingle")) % MINHASH_P)
        .groupBy(key_col)
        .agg(*aggs)
    )


def incremental_near_dups(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Per NEW document: (key, is_dup, matched_id, match_type).

    ``matched_id`` is the smallest id (across corpus matches and
    earlier-in-batch matches) whose verified Jaccard ≥ threshold, or
    NULL; ``match_type`` ∈ ('corpus', 'batch', 'none') names the side
    that smallest match came from.

    Materializes an intermediate at call time, see ``blocks.materialize``.
    """
    sh_new = materialize(doc_shingles(new_df, key_col, text_col, shingle_size))
    # The corpus shingle table feeds BOTH its signature/band pipeline
    # and the exact-verify union — without the checkpoint the corpus
    # is shingled twice (r14; guide §5 caching-when-reused). (Production
    # incremental ingest precomputes corpus signatures — this
    # materialization is the single-job stand-in for that store.)
    sh_corp = materialize(
        doc_shingles(corpus_df, key_col, text_col, shingle_size)
    )
    # b_new (new-batch band buckets, |new|·bands rows — bounded) is
    # consumed three times (the cross join side and both within-batch
    # sides); checkpointing it runs the signature aggregate + band
    # unpivot once (r14).
    b_new = materialize(minhash_band_buckets(
        _signatures(sh_new, key_col, num_hashes), key_col, num_hashes,
        bands,
    ))
    b_corp = minhash_band_buckets(
        _signatures(sh_corp, key_col, num_hashes), key_col, num_hashes,
        bands,
    )
    cross = (
        b_new.select(F.col(key_col).alias("id_b"), "band", "bucket")
        .join(
            b_corp.select(F.col(key_col).alias("id_a"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    within = (
        b_new.select(F.col(key_col).alias("id_a"), "band", "bucket")
        .join(
            b_new.select(F.col(key_col).alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))  # keep-first within batch
        .select("id_a", "id_b")
        .distinct()
    )
    cand = cross.unionByName(within).distinct()
    verified = verify_jaccard(
        cand, sh_new.unionByName(sh_corp), key_col
    ).filter(F.col("jaccard") >= threshold)
    per_new = verified.groupBy("id_b").agg(
        F.min("id_a").alias("matched_id")
    )
    corpus_keys = corpus_df.select(
        F.col(key_col).alias("matched_id"), F.lit(1).alias("__in_corpus")
    )
    return (
        new_df.select(key_col)
        .join(per_new, F.col(key_col) == F.col("id_b"), "left")
        .join(corpus_keys, "matched_id", "left")
        .select(
            F.col(key_col),
            F.when(F.col("matched_id").isNull(), 0)
            .otherwise(1)
            .cast("int")
            .alias("is_dup"),
            "matched_id",
            F.when(F.col("matched_id").isNull(), "none")
            .when(F.col("__in_corpus").isNotNull(), "corpus")
            .otherwise("batch")
            .alias("match_type"),
        )
    )
