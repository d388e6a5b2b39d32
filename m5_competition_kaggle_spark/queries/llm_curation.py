"""Curation-stage queries: chunking, decontamination, stratified
sampling, repetition metrics, IVF ANN.

Second wave of the training-data-pipeline surface (first wave:
``queries/extensions.py``). Registered AFTER the 50 head queries — the
round-1 driver recorded correctness rows for exactly the first 50
registered queries, so these certify primarily through the local
oracle-differential harness (``scripts/check_oracle.py``, same
row/schema/type/hash gate) and pytest, and get driver rows only if the
driver checks past 50.

Shared determinism contracts (see ``queries/extensions.py`` docstring):
h64 md5 hashing, whitespace tokens, ordered n-token shingles, quantized
int64 embedding dots.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.curation import (
    chunk_documents,
    contamination_hits,
    repetition_features,
    stratified_keep,
)
from m5_competition_kaggle_spark.operators.dedup import minhash_lsh_pairs
from m5_competition_kaggle_spark.operators.graph import dedup_clusters
from m5_competition_kaggle_spark.operators.similarity import ivf_topk
from m5_competition_kaggle_spark.queries.extensions import (
    _DOCS_TOKS,
    _minhash_verified_ctes,
    _shingle_cte,
    _STOP_EN,
    H64,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

CHUNK_SIZE, CHUNK_STRIDE = 32, 24
DECON_SHINGLE = 4  # 5-grams flag ~0.2% of this corpus, 3-grams ~34%
SAMPLE_PERMILLE = {"en": 500, "fr": 300, "es": 200}  # default 100

from m5_competition_kaggle_spark.operators.curation import (  # noqa: E402
    BLOOM_K as _BLOOM_K,
    BLOOM_M as _BLOOM_M,
)


def x19_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (size 32, stride 24): the step that
    turns documents into training/embedding units."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


def x20_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 4-token shingle
    with the held-out benchmark split (doc_id % 97 == 0), with hit
    counts — the docs a training run must drop."""
    docs = load_table(spark, sf_dir, "documents")
    return contamination_hits(
        docs, "doc_id", "text", (F.col("doc_id") % 97) == 0, DECON_SHINGLE
    ).orderBy("doc_id")


def x46_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by deterministic Bloom filter
    (``operators/curation.bloom_contamination_stats``): the benchmark's
    4-shingles compress to ≤2^14 set-bit positions that broadcast as an
    integer join side, so the 100 TB corpus probes map-side and is
    never shuffled by shingle — the scale path behind x20's exact
    string join. h64 double hashing makes every bit and probe SQL-
    replicable; the exact hit count rides along so the output certifies
    the mechanism AND its observed false-positive count per doc."""
    from m5_competition_kaggle_spark.operators.curation import (
        bloom_contamination_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bloom_contamination_stats(
        docs, "doc_id", "text", (F.col("doc_id") % 97) == 0, DECON_SHINGLE
    ).orderBy("doc_id")


def x21_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling quota (domain-mixing knob):
    en 50% / fr 30% / es 20% / rest 10%, membership a pure hash of
    doc_id. Aggregated per stratum for a compact certified output."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_keep(docs, "doc_id", "lang", SAMPLE_PERMILLE, 100)
    return (
        docs.withColumn("__keep", kept)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("__keep"), 1)).alias("n_sampled"),
            F.min(F.when(F.col("__keep"), F.col("doc_id"))).alias(
                "min_sampled_id"
            ),
        )
        .orderBy("lang")
    )


def x22_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: duplicated bigram/trigram
    fractions per document plus a repetitive flag."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        repetition_features(docs, "text", flag_threshold=0.5)
        .select(
            "doc_id", "n_tokens", "dup_bigram_frac", "dup_trigram_frac",
            "is_repetitive",
        )
        .orderBy("doc_id")
    )


def x23_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-k (deterministic centroids → fully
    oracle-able, unlike hyperplane LSH): same query set and output shape
    as x9/x10."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(
        emb, queries, k=10, nprobe=4, n_centroids=16
    ).orderBy("query_id", "rank")


def x25_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub certification: the corpus is synthetic word soup with no
    organic PII, so the query deterministically plants one email / IP /
    phone per document (derived from doc_id), then redacts and counts.
    Certifies the exact redaction byte-stream via h64 of the scrubbed
    text against the DuckDB twin."""
    from m5_competition_kaggle_spark.functions.text import (
        h64,
        pii_counts,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "__aug",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10.0."),
            F.col("doc_id") % 256,
            F.lit(".7 call +1 555 01"),
            F.col("doc_id") % 90 + 10,
        ),
    )
    return (
        planted.withColumns(pii_counts("__aug"))
        .select(
            "doc_id",
            "n_email",
            "n_ip",
            "n_phone",
            h64(redact_pii("__aug")).alias("redacted_hash"),
        )
        .orderBy("doc_id")
    )


def x26_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: x19's chunks walked in (doc_id, chunk_idx)
    order and packed into 4096-token shards via the two-phase global
    prefix sum (operators/prefix.py) — no single-partition exchange."""
    from m5_competition_kaggle_spark.operators.prefix import pack_into_shards

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE
    ).select("doc_id", "chunk_idx", "n_chunk_tokens")
    return pack_into_shards(
        chunks, "n_chunk_tokens", ("doc_id", "chunk_idx"), 4096
    ).orderBy("doc_id", "chunk_idx")


def x27_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: keep probability proportional to
    the heuristic quality score (p = clamp(score, 0, 1)), membership a
    pure hash of doc_id — deterministic, rerunnable, leakage-free.
    Aggregated per language for a compact certified output."""
    from m5_competition_kaggle_spark.functions.text import h64, quality_features

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs, "text")
    # integer arithmetic: keep iff h64(doc_id) % 10000 < floor(p * 10000)
    thresh = F.floor(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col("quality_score")))
        * 10000
    )
    kept = (h64(F.col("doc_id").cast("string")) % 10000) < thresh
    return (
        scored.withColumn("__keep", kept)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
            F.sum(F.when(F.col("__keep"), F.col("n_tokens"))).alias(
                "kept_tokens"
            ),
        )
        .orderBy("lang")
    )


def x29_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus→training-shards composition (the stages a
    real pretraining data pipeline chains, each individually certified):

    quality filter (heuristic ≥ 0.55, same bar as x16)
      → benchmark decontamination (drop bench split + any doc sharing a
        4-shingle with it)
      → near-dup clustering (MinHash LSH → connected components), keep
        only each cluster's canonical doc
      → sliding-window chunking (32/24)
      → pack into 4096-token shards via the two-phase global prefix sum.

    One lazy plan except the bounded CC loop. Output: every surviving
    chunk with its shard assignment.

    Tokenization (the dominant per-row CPU in this composition) runs ONCE:
    the survivors' token arrays are computed in a materialized
    projection and flow into the 4-shingle decontamination, the
    3-shingle minhash, AND the final chunking via ``tokens_col`` —
    instead of re-splitting the corpus text in each stage. The
    post-decontamination corpus is ALSO materialized: both the
    minhash branch and the final chunking branch consume it, and
    without it the whole decon shingle join re-executes per consumer
    (measured ~2s at sf0.1). Both reuse points go through
    ``blocks.materialize``."""
    from m5_competition_kaggle_spark.functions.text import (
        quality_features,
        tokens,
    )
    from m5_competition_kaggle_spark.operators.prefix import pack_into_shards

    docs = load_table(spark, sf_dir, "documents")
    # One materialized (doc_id, __toks) projection feeds every later
    # stage — decon shingles, minhash shingles, and chunking. Repartition
    # BEFORE tokenizing: the fill lands already spread, so no consumer
    # needs to re-shuffle the (wide) token arrays.
    sc = spark.sparkContext
    # r15 (VERDICT item 5 — collapse x29's serialized actions): surv is
    # LAZY — its blocks materialize inside the corpus fill job below
    # (corpus consumes surv via both the filter and the hits flank), so
    # the two materializations ride ONE action instead of two.
    surv = materialize(
        quality_features(docs, "text")
        .filter(F.col("quality_score") >= 0.55)
        .select("doc_id", "text")
        .repartition(sc.defaultParallelism, "doc_id")
        .select("doc_id", tokens("text").alias("__toks")),
        eager=False,
    )
    bench_pred = (F.col("doc_id") % 97) == 0
    hits = contamination_hits(
        surv, "doc_id", None, bench_pred, DECON_SHINGLE,
        tokens_col="__toks",
    ).select("doc_id")
    corpus = materialize(
        surv.filter(~bench_pred)
        .join(hits, "doc_id", "left_anti")
    )
    # eager_checkpoint=False (r15, VERDICT item 5): the shingle blocks
    # materialize inside the CC loop's first convergence collect, and
    # the prefix scan's (always lazy) frozen blocks inside its own totals
    # collect — x29's serialized driver actions drop from 7 to 4
    # (corpus fill · fused CC init+round-1 collect · prefix totals
    # collect · the sink), identical blocks and results.
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", None, num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8, tokens_col="__toks",
        eager_checkpoint=False,
    ).select("id_a", "id_b")
    non_canon = (
        dedup_clusters(pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    final = corpus.join(non_canon, "doc_id", "left_anti")
    chunks = chunk_documents(
        final, "doc_id", None, CHUNK_SIZE, CHUNK_STRIDE,
        tokens_col="__toks",
    ).select("doc_id", "chunk_idx", "n_chunk_tokens")
    return pack_into_shards(
        chunks, "n_chunk_tokens", ("doc_id", "chunk_idx"), 4096,
    ).orderBy("doc_id", "chunk_idx")


def x24_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from MinHash-LSH pairs via iterative
    connected components: (doc_id, cluster_id, cluster_size,
    is_canonical) — the step that picks one canonical survivor per
    duplicate cluster instead of dropping both ends of every pair."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b")
    return dedup_clusters(pairs).orderBy("cluster_id", "doc_id")


def x28_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (ml/quality.py): train the
    tokenize→TF→logistic-regression classifier on a weak-labeled SAMPLE
    (doc_id % 10 == 0 — the production shape: small labeled set, full
    corpus scored), score every document, report per-language keep
    counts. Non-SQL-expressible (iterative L-BFGS); rows-only driver
    check, semantics pinned by tests/test_ml_quality.py."""
    from m5_competition_kaggle_spark.ml.quality import (
        fit_quality_classifier,
        model_keep_predicate,
        score_quality,
        weak_labels_from_heuristic,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = weak_labels_from_heuristic(docs)
    model = fit_quality_classifier(
        labeled.filter(F.col("doc_id") % 10 == 0)
    )
    scored = score_quality(model, labeled)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(model_keep_predicate(0.5), 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


def x36_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-quality classifier's feature relation, hash-certified:
    lowercase-tokenize → pmod(h64(token), 4096) bucket → per-(doc, bucket)
    term frequency (``ml/quality.py::hashed_tf_pairs`` — the exact counts
    the per-row bincount feeds to logistic regression). Splits "feature
    plumbing correct" (oracle-checked here) from "optimizer converged"
    (x28, rows-only by nature) — the certification split the r2 audit
    prescribed."""
    from m5_competition_kaggle_spark.ml.quality import hashed_tf_pairs

    docs = load_table(spark, sf_dir, "documents")
    return hashed_tf_pairs(docs, "doc_id", "text").orderBy(
        "doc_id", "bucket"
    )


def x44_score_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality classifier's scoring surface, hash-certified
    (``ml/quality.py::fixed_weight_logits``): per-doc integer logit over
    the model's real ``tf_buckets`` features with a deterministic fixed
    weight vector, plus the keep decision. Completes the r2/r3 audit
    split — x36 certifies the feature relation, x44 the scoring path;
    only x28's L-BFGS fit stays rows-only. Per-row expressions only, no
    shuffle (same plan shape as corpus-wide model scoring)."""
    from m5_competition_kaggle_spark.ml.quality import fixed_weight_logits

    docs = load_table(spark, sf_dir, "documents")
    return fixed_weight_logits(docs, "doc_id", "text").orderBy("doc_id")


HLL_M = 64  # 2^6 registers per sketch
HLL_RANK_CAP = 50  # keeps every 2^(cap-rank) scaled term in int64
HLL_ALPHA_MICRO = 709_365  # alpha_64 = 0.7213/(1+1.079/64), 1e-6 units
# Small-range (linear counting) estimate by EMPTY-bucket count V:
# round(m·ln(m/V)) precomputed as integer literals — both engines read
# the same table, so the branch needs no runtime ln(). Index V=1..m.
_HLL_LC = tuple(
    round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)
)
HLL_LC_THRESHOLD = (5 * HLL_M) // 2  # raw ≤ 2.5m → linear counting


def x45_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog built from scratch on h64 — the
    'novel sketch as a composition of DataFrame ops' the built-in
    ``approx_count_distinct`` (x17, rows-only: Spark-internal HLL++ no
    other engine replicates) cannot certify. Per-source distinct-token
    cardinality:

      bucket = h64(token) % 64, val = h64(token) div 64 (54 bits),
      rank   = leading-zero position of val (via length(bin(val)),
               capped at 50), register M_j = max rank per bucket,
      sum_scaled = Σ_j 2^(50−M_j)  — an EXACT int64 (the float HLL
      indicator Σ 2^−M scaled by 2^50), so the whole sketch state is
      integer and the estimate α·m²/Z derives from it with integer div
      (α in micro-units, overflow-safe split multiply).

    Small-range correction (linear counting, est = m·ln(m/V) for V
    empty buckets when raw ≤ 2.5m) uses a PRECOMPUTED 64-entry integer
    lookup (``_HLL_LC``) instead of a runtime ln() — both engines read
    the same literals, so the corrected estimate stays bit-identical;
    only HLL++'s bias table and the 64-bit large-range branch are
    omitted. The exact distinct count rides along so the output
    certifies BOTH the sketch state and its observed error
    (err_permille). Scale shape:
    one explode → keyed max-agg (64·sources registers) → tiny
    broadcast scaffold join; the register table is O(64·sources)
    regardless of corpus size — the entire point of HLL at 100 TB."""
    from m5_competition_kaggle_spark.functions.text import h64, tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    hashed = tok.select(
        "source", h64(F.col("t")).alias("h")
    ).select(
        "source",
        F.pmod("h", F.lit(HLL_M)).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("val"),
    )
    rank = F.when(F.col("val") == 0, F.lit(HLL_RANK_CAP)).otherwise(
        F.least(
            F.lit(55) - F.length(F.expr("bin(val)")),
            F.lit(HLL_RANK_CAP),
        )
    )
    regs = (
        hashed.withColumn("rank", rank.cast("long"))
        .groupBy("source", "bucket")
        .agg(F.max("rank").alias("mj"))
    )
    grid = (
        docs.select("source")
        .distinct()
        .crossJoin(
            F.broadcast(spark.range(HLL_M).select(F.col("id").alias("bucket")))
        )
    )
    full = grid.join(regs, ["source", "bucket"], "left").select(
        "source", F.coalesce("mj", F.lit(0)).alias("m0")
    )
    agg = full.groupBy("source").agg(
        F.count(F.when(F.col("m0") > 0, 1)).alias("used_buckets"),
        F.sum(
            F.expr(f"shiftleft(1L, cast({HLL_RANK_CAP} - m0 as int))")
        ).alias("sum_scaled"),
    )
    exact = tok.groupBy("source").agg(
        F.countDistinct("t").alias("exact_tokens")
    )
    lc_arr = ", ".join(str(v) for v in _HLL_LC)
    est = (
        agg.withColumn(
            "raw",
            F.expr(f"{HLL_M * HLL_M * (1 << HLL_RANK_CAP)}L div sum_scaled"),
        )
        .withColumn("empty", F.lit(HLL_M) - F.col("used_buckets"))
        .withColumn(
            "est_tokens",
            F.expr(
                f"CASE WHEN empty > 0 AND raw <= {HLL_LC_THRESHOLD} "
                f"THEN element_at(array({lc_arr}), cast(empty as int)) "
                f"ELSE (raw div 1000000) * {HLL_ALPHA_MICRO}"
                f" + ((raw % 1000000) * {HLL_ALPHA_MICRO}) div 1000000 "
                "END"
            ).cast("long"),
        )
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "used_buckets",
            "sum_scaled",
            "est_tokens",
            "exact_tokens",
            F.expr(
                "(abs(est_tokens - exact_tokens) * 1000)"
                " div exact_tokens"
            ).alias("err_permille"),
        )
        .orderBy("source")
    )


def x40_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for pad-efficient batching: chunks
    (x19's 32/24 windows) grouped into width-8 length buckets with chunk
    counts, token totals, padding waste, and an exact integer fill ratio
    (permille) — the stats a batch scheduler uses to pick bucket
    boundaries. One explode + one tiny hash agg; all-BIGINT math."""
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE)
    return (
        ch.withColumn("bucket", F.expr("((n_chunk_tokens + 7) div 8) * 8"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("n_chunk_tokens")).alias(
                "pad_tokens"
            ),
        )
        .withColumn(
            "fill_permille",
            F.expr("(total_tokens * 1000) div (n_chunks * bucket)"),
        )
        .orderBy("bucket")
    )


def x41_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 power iterations, d=0.85) over the
    MinHash near-dup pair graph — graph centrality as a canonical-doc
    signal (the most-connected rewrite of a template is a better
    survivor than min-id). Bit-exact int64 recurrence, so the oracle
    unrolls the same three iterations in SQL and hash-matches."""
    from m5_competition_kaggle_spark.operators.graph import pagerank_int

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b")
    return (
        pagerank_int(pairs, iterations=3)
        .select(F.col("node").alias("doc_id"), "rank")
        .orderBy("doc_id")
    )


def x30_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 tokens by term frequency with document
    frequency — the tokenizer-training / vocab-audit scan. Explode →
    hash agg (map-side combinable) → TakeOrderedAndProject (per-partition
    top-k then a k-row merge, never a global sort of the vocabulary).
    Ties broken by token so the cut at k is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("token"),
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(200)
    )


def x31_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet/KenLM-style perplexity
    filter, restated as relational algebra): score every document by the
    mean surprisal −ln p(w2|w1) of its bigrams under a corpus bigram
    model with document-frequency counts.

    Scale shape: two explode→hash-agg passes build the model (map-side
    combinable), scoring is two keyed equi-joins (bigram → its count,
    prefix unigram → its count) — the model tables shuffle once and the
    heavy side never fans out. No Python, no driver state; at 100 TB the
    model aggs are the same wordcount shape as x30."""
    from m5_competition_kaggle_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    big = doc_shingles(docs, "doc_id", "text", 2)
    uni = doc_shingles(docs, "doc_id", "text", 1)
    big_df = big.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_b"))
    uni_df = uni.select(F.col("shingle").alias("prev")).groupBy("prev").agg(
        F.count(F.lit(1)).alias("df_u")
    )
    scored = (
        big.join(big_df, "shingle")
        .withColumn("prev", F.expr("split_part(shingle, ' ', 1)"))
        .join(uni_df, "prev")
        .withColumn(
            "nll",
            F.log(F.col("df_u").cast("double") / F.col("df_b")),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("nll").alias("surprisal"),
        )
        .orderBy("doc_id")
    )


def x32_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by TF-IDF with a
    deterministic (tfidf DESC, token ASC) cut. Term frequencies and
    document frequencies are two chained hash aggregates; the corpus
    size is a 1-row broadcast; ranking is a window partitioned by doc —
    every exchange keyed, nothing global."""
    from m5_competition_kaggle_spark.functions.text import tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


SOURCE_CAP = 40  # max docs kept per source


def x33_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (the C4/RefinedWeb-style per-domain cap
    that stops one crawl domain from dominating the corpus): rank each
    source's documents by heuristic quality (tie-break doc_id), keep the
    top ``SOURCE_CAP``, report per-source kept/dropped and the kept
    quality mass. One window partitioned by source + one hash agg —
    both keyed on source, no global exchange; at 100 TB hot sources are
    exactly what AQE skew-split handles.

    Quality is scored in INTEGER micro-units (``q_micro``, 0..1_000_000)
    computed with pure BIGINT arithmetic — the float composite of
    ``quality_features`` rounds differently at half-way boundaries in
    Spark (BigDecimal HALF_UP) vs DuckDB (float-multiply), which made the
    r3 hash flaky by exactly 1 micro. Integer div of non-negative longs
    is identical in every engine, so rank order AND the kept-quality sum
    are bit-exact. Same permille-integer policy as
    ``functions/text.code_features``."""
    from m5_competition_kaggle_spark.functions.text import STOPWORDS, tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    quoted = ", ".join(f"'{m}'" for m in STOPWORDS)
    scored = (
        docs.withColumn("__toks", tokens("text"))
        .withColumn("n_tok", F.size("__toks").cast("long"))
        .withColumn("n", F.greatest(F.col("n_tok"), F.lit(1)))
        .withColumn(
            "stop",
            F.expr(f"size(filter(__toks, t -> t in ({quoted})))").cast(
                "long"
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        # 0.5*min(1, n_tok/100) + 0.3*(1-stop/n) + 0.2*min(1, avg_len/8)
        # in micro-units, all-integer (floor div; operands non-negative):
        .withColumn(
            "q_micro",
            F.lit(5000) * F.least(F.col("n_tok"), F.lit(100))
            + F.expr("(300000 * (n - stop)) div n")
            + F.least(
                F.lit(200000).cast("long"),
                F.expr("(25000 * (n_chars - (n_tok - 1))) div n"),
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("q_micro"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("rk") <= SOURCE_CAP, 1)).alias("n_kept"),
            F.sum(
                F.when(F.col("rk") <= SOURCE_CAP, F.col("q_micro"))
            ).alias("kept_quality_micro"),
            F.min(
                F.when(F.col("rk") <= SOURCE_CAP, F.col("doc_id"))
            ).alias("min_kept_id"),
        )
        .orderBy("source")
    )


DUP_SPAN_W = 8  # tokens per duplicate-detection span
MIX_TARGET_NUM, MIX_TARGET_DEN = 3, 10  # keep ~30% of the corpus


def x34_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate-span profile per document (Lee et al.
    style): fraction of 8-token sliding windows whose hash occurs at >1
    position in the corpus. See operators/curation.dup_span_features for
    the scale argument."""
    from m5_competition_kaggle_spark.operators.curation import (
        dup_span_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dup_span_features(
        docs, "doc_id", "text", window=DUP_SPAN_W
    ).orderBy("doc_id")


def x35_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (the multinomial α-sampling of
    multilingual/multi-source pretraining mixes, α = 0.5): see
    operators/curation.temperature_mix_stats for the determinism and
    scale arguments."""
    from m5_competition_kaggle_spark.operators.curation import (
        temperature_mix_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_stats(
        docs, "doc_id", "source", MIX_TARGET_NUM, MIX_TARGET_DEN
    ).orderBy("source")


QUERIES = {
    "x25_pii_redact": x25_pii_redact,
    "x19_chunk_docs": x19_chunk_docs,
    "x20_decontaminate": x20_decontaminate,
    "x21_stratified_sample": x21_stratified_sample,
    "x22_repetition_quality": x22_repetition_quality,
    "x23_sim_topk_ivf": x23_sim_topk_ivf,
    "x24_dedup_clusters": x24_dedup_clusters,
    "x26_pack_shards": x26_pack_shards,
    "x27_importance_sample": x27_importance_sample,
    "x28_model_quality": x28_model_quality,
    "x29_corpus_to_shards": x29_corpus_to_shards,
    "x30_vocab_topk": x30_vocab_topk,
    "x31_lm_surprisal": x31_lm_surprisal,
    "x32_tfidf_keywords": x32_tfidf_keywords,
    "x33_source_caps": x33_source_caps,
    "x34_dup_spans": x34_dup_spans,
    "x35_temperature_mix": x35_temperature_mix,
    "x36_hashed_tf": x36_hashed_tf,
    "x40_length_buckets": x40_length_buckets,
    "x41_pagerank": x41_pagerank,
    "x44_score_fixed": x44_score_fixed,
    "x45_hll_distinct": x45_hll_distinct,
    "x46_bloom_decontaminate": x46_bloom_decontaminate,
}

# --------------------------------------------------------------- Oracle side

_PERMILLE_CASE = (
    "CASE lang "
    + " ".join(
        f"WHEN '{s}' THEN {p}" for s, p in sorted(SAMPLE_PERMILLE.items())
    )
    + " ELSE 100 END"
)


def _dup_frac_sql(n: int) -> str:
    grams = (
        f"list_transform(range(1, len(toks) - {n - 2}), "
        + "i -> array_to_string(toks[i:i+" + str(n - 1) + "], ' '))"
    )
    return (
        f"(len({grams}) - len(list_distinct({grams}))) * 1.0"
        f" / greatest(len({grams}), 1)"
    )


def _ivf_oracle(k: int, nprobe: int, n_centroids: int) -> str:
    dot = (
        "CAST(list_sum(list_transform(generate_series(1, len({a}.v)), "
        "i -> {a}.v[i] * {b}.v[i])) AS BIGINT)"
    )
    return f"""
WITH qz AS (SELECT vec_id AS vid,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
cent AS (SELECT vid AS cid, v FROM qz WHERE vid < {n_centroids}),
asgn0 AS (SELECT q.vid, c.cid, q.v,
            row_number() OVER (PARTITION BY q.vid
                ORDER BY {dot.format(a='q', b='c')} DESC, c.cid) AS rn
          FROM qz q, cent c),
asgn AS (SELECT vid, cid, v FROM asgn0 WHERE rn = 1),
probes0 AS (SELECT q.vid AS query_id, c.cid, q.v,
              row_number() OVER (PARTITION BY q.vid
                  ORDER BY {dot.format(a='q', b='c')} DESC, c.cid) AS rn
            FROM qz q, cent c WHERE q.vid % 50 = 0),
probes AS (SELECT query_id, cid, v FROM probes0 WHERE rn <= {nprobe}),
scored AS (SELECT p.query_id, a.vid AS neighbor_id,
             {dot.format(a='a', b='p')} AS dot
           FROM asgn a JOIN probes p ON a.cid = p.cid
           WHERE a.vid <> p.query_id),
ranked AS (SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY dot DESC, neighbor_id) AS "rank"
           FROM scored)
SELECT query_id, neighbor_id, dot, "rank"
FROM ranked WHERE "rank" <= {k}
ORDER BY query_id, "rank"
"""


def _pii_oracle() -> str:
    from m5_competition_kaggle_spark.functions.text import PII_PATTERNS

    aug = (
        "text || ' contact user' || doc_id || '@example.com from 10.0.'"
        " || (doc_id % 256) || '.7 call +1 555 01' || (doc_id % 90 + 10)"
    )
    redacted = "a"
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all(a, '{pattern}')) AS BIGINT)"
            f" AS n_{name}"
        )
        redacted = f"regexp_replace({redacted}, '{pattern}', '{token}', 'g')"
    return f"""
WITH aug AS (SELECT doc_id, {aug} AS a FROM documents)
SELECT doc_id, {', '.join(counts)},
       {H64.format(s=redacted)} AS redacted_hash
FROM aug ORDER BY doc_id
"""


ORACLES = {
    # x46: deterministic Bloom decontamination — double-hashed h64 bit
    # positions, identical bit set and probe semantics (including the
    # duplicate-probe-position quirk of double hashing) on both engines.
    "x46_bloom_decontaminate": rf"""
        WITH docs AS (SELECT doc_id,
                             str_split_regex(trim(text), '\s+') AS toks
                      FROM documents),
        {_shingle_cte(DECON_SHINGLE)},
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
        ii AS (SELECT unnest(range({_BLOOM_K})) AS i),
        bits AS (SELECT DISTINCT
                        ((h % {1 << 30})
                         + i * ((h // {1 << 30}) * 2 + 1)) % {_BLOOM_M}
                            AS pos
                 FROM (SELECT {H64.format(s='shingle')} AS h FROM bench)
                 CROSS JOIN ii),
        probes AS (SELECT doc_id, shingle,
                          ((h % {1 << 30})
                           + i * ((h // {1 << 30}) * 2 + 1)) % {_BLOOM_M}
                              AS pos
                   FROM (SELECT doc_id, shingle,
                                {H64.format(s='shingle')} AS h FROM corp)
                   CROSS JOIN ii),
        shflag AS (SELECT doc_id, shingle
                   FROM probes JOIN bits USING (pos)
                   GROUP BY doc_id, shingle
                   HAVING count(*) = {_BLOOM_K}),
        bpd AS (SELECT doc_id, count(*) AS bloom_hits
                FROM shflag GROUP BY doc_id),
        epd AS (SELECT c.doc_id, count(*) AS exact_hits
                FROM corp c JOIN bench b USING (shingle)
                GROUP BY c.doc_id),
        tot AS (SELECT doc_id, count(*) AS n_shingles
                FROM corp GROUP BY doc_id)
        SELECT t.doc_id, t.n_shingles,
               COALESCE(bpd.bloom_hits, 0) AS bloom_hits,
               COALESCE(epd.exact_hits, 0) AS exact_hits,
               COALESCE(bpd.bloom_hits, 0) - COALESCE(epd.exact_hits, 0)
                   AS false_positives
        FROM tot t LEFT JOIN bpd USING (doc_id) LEFT JOIN epd USING (doc_id)
        ORDER BY t.doc_id
    """,
    # x45: from-scratch HLL — same h64 bucketing, bin()-length rank,
    # integer-scaled register sum, micro-unit alpha; every step has an
    # exact BIGINT twin on both engines.
    "x45_hll_distinct": rf"""
        WITH tok AS (SELECT source,
                            unnest(str_split_regex(trim(text), '\s+')) AS t
                     FROM documents),
        tf AS (SELECT source, t FROM tok WHERE t <> ''),
        hb AS (SELECT source,
                      {H64.format(s='t')} % {HLL_M} AS bucket,
                      {H64.format(s='t')} // {HLL_M} AS val
               FROM tf),
        r AS (SELECT source, bucket,
                     CASE WHEN val = 0 THEN {HLL_RANK_CAP}
                          ELSE least(55 - length(bin(val)),
                                     {HLL_RANK_CAP}) END AS rank
              FROM hb),
        regs AS (SELECT source, bucket, max(rank) AS mj
                 FROM r GROUP BY source, bucket),
        grid AS (SELECT s.source, b.bucket
                 FROM (SELECT DISTINCT source FROM documents) s
                 CROSS JOIN (SELECT unnest(range({HLL_M})) AS bucket) b),
        f AS (SELECT g.source, COALESCE(regs.mj, 0) AS m0
              FROM grid g LEFT JOIN regs
                ON regs.source = g.source AND regs.bucket = g.bucket),
        agg AS (SELECT source,
                       count(CASE WHEN m0 > 0 THEN 1 END) AS used_buckets,
                       CAST(sum(1::BIGINT << CAST({HLL_RANK_CAP} - m0
                                                  AS INT)) AS BIGINT)
                           AS sum_scaled
                FROM f GROUP BY source),
        ex AS (SELECT source, count(DISTINCT t) AS exact_tokens
               FROM tf GROUP BY source),
        est AS (SELECT source, used_buckets, sum_scaled,
                       {HLL_M * HLL_M * (1 << HLL_RANK_CAP)} // sum_scaled
                           AS raw,
                       {HLL_M} - used_buckets AS empty
                FROM agg),
        est2 AS (SELECT source, used_buckets, sum_scaled,
                        CAST(CASE WHEN empty > 0
                                       AND raw <= {HLL_LC_THRESHOLD}
                             THEN ([{", ".join(str(v) for v in _HLL_LC)}])
                                      [empty]
                             ELSE (raw // 1000000) * {HLL_ALPHA_MICRO}
                                  + ((raw % 1000000) * {HLL_ALPHA_MICRO})
                                      // 1000000
                             END AS BIGINT) AS est_tokens
                 FROM est)
        SELECT e.source, e.used_buckets, e.sum_scaled, e.est_tokens,
               x.exact_tokens,
               (abs(e.est_tokens - x.exact_tokens) * 1000)
                   // x.exact_tokens AS err_permille
        FROM est2 e JOIN ex x USING (source) ORDER BY e.source
    """,
    # x44: the same h64 feature bucketing as x36, then the fixed
    # deterministic weight w[b] = (h64(str(b)) % 2001) - 1000 summed per
    # doc — pure BIGINT, so the scoring surface hashes bit-exact. Docs
    # with zero tokens keep logit 0 / keep=1 via the left join.
    "x44_score_fixed": rf"""
        WITH tok AS (SELECT doc_id,
                            unnest(str_split_regex(trim(lower(text)),
                                                   '\s+')) AS t
                     FROM documents),
        b AS (SELECT doc_id,
                     CAST(CAST({H64.format(s='t')} % 4096 AS INT)
                          AS VARCHAR) AS bs
              FROM tok WHERE t <> ''),
        w AS (SELECT doc_id,
                     ({H64.format(s='bs')} % 2001) - 1000 AS w
              FROM b),
        agg AS (SELECT doc_id, count(*) AS n_terms,
                       CAST(sum(w) AS BIGINT) AS logit
                FROM w GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_terms, 0) AS n_terms,
               COALESCE(a.logit, 0) AS logit_units,
               CAST(COALESCE(a.logit, 0) >= 0 AS INT) AS keep
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """,
    "x36_hashed_tf": rf"""
        WITH tok AS (SELECT doc_id,
                            unnest(str_split_regex(trim(lower(text)),
                                                   '\s+')) AS t
                     FROM documents)
        SELECT doc_id,
               CAST({H64.format(s='t')} % 4096 AS INT) AS bucket,
               COUNT(*) AS tf
        FROM tok WHERE t <> ''
        GROUP BY doc_id, bucket
        ORDER BY doc_id, bucket
    """,
    "x41_pagerank": f"""
WITH {_minhash_verified_ctes(16, 4)},
vpairs AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
          UNION ALL SELECT id_b, id_a FROM vpairs),
deg AS (SELECT a AS src, count(*) AS d FROM edges GROUP BY a),
nodes AS (SELECT DISTINCT a AS node FROM edges),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
"""
    + ",\n".join(
        f"""r{k + 1} AS (
    SELECT n.node,
           CAST(150000 + (85 * COALESCE(SUM(p.r // dg.d), 0)) // 100
                AS BIGINT) AS r
    FROM nodes n
    LEFT JOIN edges e ON e.b = n.node
    LEFT JOIN r{k} p ON p.node = e.a
    LEFT JOIN deg dg ON dg.src = e.a
    GROUP BY n.node)"""
        for k in range(3)
    )
    + """
SELECT node AS doc_id, r AS "rank" FROM r3 ORDER BY doc_id
""",
    "x40_length_buckets": rf"""
        WITH {_DOCS_TOKS},
        st AS (SELECT doc_id, toks,
                      unnest(generate_series(0, len(toks) - 1,
                                             {CHUNK_STRIDE})) AS cs
               FROM docs),
        ch AS (SELECT CAST(len(toks[cs+1:cs+{CHUNK_SIZE}]) AS BIGINT) AS n
               FROM st),
        bk AS (SELECT ((n + 7) // 8) * 8 AS bucket, n FROM ch)
        SELECT bucket,
               COUNT(*) AS n_chunks,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM(bucket - n) AS BIGINT) AS pad_tokens,
               (CAST(SUM(n) AS BIGINT) * 1000) // (COUNT(*) * bucket)
                   AS fill_permille
        FROM bk GROUP BY bucket ORDER BY bucket
    """,
    "x25_pii_redact": _pii_oracle(),
    "x19_chunk_docs": rf"""
        WITH {_DOCS_TOKS},
        st AS (SELECT doc_id, toks,
                      unnest(generate_series(0, len(toks) - 1,
                                             {CHUNK_STRIDE})) AS cs
               FROM docs)
        SELECT doc_id,
               CAST(cs // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               CAST(cs AS BIGINT) AS chunk_start,
               CAST(len(toks[cs+1:cs+{CHUNK_SIZE}]) AS BIGINT)
                   AS n_chunk_tokens,
               {H64.format(s=f"array_to_string(toks[cs+1:cs+{CHUNK_SIZE}], ' ')")}
                   AS chunk_hash
        FROM st ORDER BY doc_id, chunk_idx
    """,
    "x20_decontaminate": rf"""
        WITH {_DOCS_TOKS}, {_shingle_cte(DECON_SHINGLE)},
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
        SELECT c.doc_id, count(*) AS n_hits
        FROM corpus c JOIN bench b USING (shingle)
        GROUP BY c.doc_id ORDER BY doc_id
    """,
    "x21_stratified_sample": f"""
        WITH assigned AS (
            SELECT doc_id, lang,
                   {_PERMILLE_CASE} AS permille,
                   {H64.format(s='CAST(doc_id AS VARCHAR)')} % 1000 AS b
            FROM documents)
        SELECT lang,
               count(*) AS n_docs,
               count(CASE WHEN b < permille THEN 1 END) AS n_sampled,
               min(CASE WHEN b < permille THEN doc_id END)
                   AS min_sampled_id
        FROM assigned GROUP BY lang ORDER BY lang
    """,
    "x22_repetition_quality": rf"""
        WITH {_DOCS_TOKS}
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               {_dup_frac_sql(2)} AS dup_bigram_frac,
               {_dup_frac_sql(3)} AS dup_trigram_frac,
               {_dup_frac_sql(2)} > 0.5 AS is_repetitive
        FROM docs ORDER BY doc_id
    """,
    "x23_sim_topk_ivf": _ivf_oracle(10, 4, 16),
    "x26_pack_shards": rf"""
        WITH {_DOCS_TOKS},
        st AS (SELECT doc_id, toks,
                      unnest(generate_series(0, len(toks) - 1,
                                             {CHUNK_STRIDE})) AS cs
               FROM docs),
        ch AS (SELECT doc_id,
                      CAST(cs // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
                      CAST(len(toks[cs+1:cs+{CHUNK_SIZE}]) AS BIGINT)
                          AS n_chunk_tokens
               FROM st)
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               CAST((sum(n_chunk_tokens) OVER (
                         ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_chunk_tokens) // 4096 AS BIGINT) AS shard_id
        FROM ch ORDER BY doc_id, chunk_idx
    """,
    "x27_importance_sample": rf"""
        WITH {_DOCS_TOKS},
        m AS (SELECT doc_id, lang,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     (length(text) - (len(toks) - 1)) * 1.0
                         / greatest(len(toks), 1) AS avg_token_len,
                     len(list_filter(toks, t -> t IN ({_STOP_EN}))) * 1.0
                         / greatest(len(toks), 1) AS stopword_ratio
              FROM docs),
        s AS (SELECT doc_id, lang, n_tokens,
                     0.5 * least(1.0, n_tokens / 100.0)
                       + 0.3 * (1.0 - stopword_ratio)
                       + 0.2 * least(1.0, avg_token_len / 8.0) AS q
              FROM m),
        k AS (SELECT lang, n_tokens,
                     ({H64.format(s='CAST(doc_id AS VARCHAR)')} % 10000)
                         < CAST(floor(least(1.0, greatest(0.0, q)) * 10000)
                                AS BIGINT) AS keep
              FROM s)
        SELECT lang, count(*) AS n_docs,
               count(CASE WHEN keep THEN 1 END) AS n_kept,
               CAST(sum(CASE WHEN keep THEN n_tokens END) AS BIGINT)
                   AS kept_tokens
        FROM k GROUP BY lang ORDER BY lang
    """,
    # The full composition: quality CTE -> decon shingles (4) -> minhash
    # chain over the survivor `docs` CTE -> recursive-CTE components ->
    # canonical-only chunking -> window-sum packing.
    "x29_corpus_to_shards": rf"""
WITH RECURSIVE
alldocs AS (SELECT doc_id, text,
                   str_split_regex(trim(text), '\s+') AS toks
            FROM documents),
q AS (SELECT doc_id,
             0.5 * least(1.0, len(toks) / 100.0)
               + 0.3 * (1.0 - len(list_filter(toks, t -> t IN ({_STOP_EN})))
                              * 1.0 / greatest(len(toks), 1))
               + 0.2 * least(1.0,
                   (length(text) - (len(toks) - 1)) * 1.0
                       / greatest(len(toks), 1) / 8.0) AS qs
      FROM alldocs),
surv AS (SELECT a.doc_id, a.text, a.toks
         FROM alldocs a JOIN q USING (doc_id) WHERE q.qs >= 0.55),
dsh0 AS (SELECT doc_id,
           CASE WHEN len(toks) >= {DECON_SHINGLE}
                THEN list_transform(range(0, len(toks) - {DECON_SHINGLE - 1}),
                         i -> array_to_string(
                                  toks[i+1:i+{DECON_SHINGLE}], ' '))
                ELSE [array_to_string(toks, ' ')] END AS shl
         FROM surv),
dsh AS (SELECT DISTINCT doc_id, unnest(shl) AS shingle FROM dsh0),
bench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 97 = 0),
hits AS (SELECT DISTINCT d.doc_id FROM dsh d JOIN bench USING (shingle)
         WHERE d.doc_id % 97 <> 0),
docs AS (SELECT doc_id, text, toks FROM surv
         WHERE doc_id % 97 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM hits)),
{_minhash_verified_ctes(16, 4, include_docs=False)},
vpairs AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
          UNION SELECT id_b, id_a FROM vpairs),
reach(node, reached) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached
),
comp AS (SELECT node, min(reached) AS cid FROM reach GROUP BY node),
final AS (SELECT doc_id, toks FROM docs
          WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cid)),
st AS (SELECT doc_id, toks,
              unnest(generate_series(0, len(toks) - 1,
                                     {CHUNK_STRIDE})) AS cs
       FROM final),
ch AS (SELECT doc_id,
              CAST(cs // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
              CAST(len(toks[cs+1:cs+{CHUNK_SIZE}]) AS BIGINT)
                  AS n_chunk_tokens
       FROM st)
SELECT doc_id, chunk_idx, n_chunk_tokens,
       CAST((sum(n_chunk_tokens) OVER (
                 ORDER BY doc_id, chunk_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_chunk_tokens) // 4096 AS BIGINT) AS shard_id
FROM ch ORDER BY doc_id, chunk_idx
""",
    # Connected components as a transitive-closure recursive CTE: min
    # reachable id per node == the propagation fixpoint the engine loops
    # to. reach is bounded (cluster_size per node) at oracle scales.
    "x24_dedup_clusters": f"""
WITH RECURSIVE {_minhash_verified_ctes(16, 4)},
vpairs AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
          UNION SELECT id_b, id_a FROM vpairs),
reach(node, reached) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached
),
comp AS (SELECT node, min(reached) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, count(*) AS cluster_size
          FROM comp GROUP BY cluster_id)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_canonical
FROM comp c JOIN csize s USING (cluster_id)
ORDER BY cluster_id, doc_id
""",
    # Hash compare is order-insensitive, so the LIMIT boundary must be
    # deterministic: (tf DESC, token) is a total order (token unique).
    "x30_vocab_topk": """
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text),
                                                '[^a-z0-9]+')) AS token
            FROM documents
        )
        SELECT token, count(*) AS tf,
               count(DISTINCT doc_id) AS df
        FROM tok WHERE token <> ''
        GROUP BY token
        ORDER BY tf DESC, token
        LIMIT 200
    """,
    # Engine-side shingles are per-doc DISTINCT sets (doc_shingles), so
    # both model counts are document frequencies; the prefix join key is
    # the text before the first space (split_part = whole string for the
    # single-token whole-doc shingle, same rule both engines).
    "x31_lm_surprisal": rf"""
        WITH {_DOCS_TOKS},
        b0 AS (SELECT doc_id,
                      CASE WHEN len(toks) >= 2
                           THEN list_transform(range(0, len(toks) - 1),
                                    i -> array_to_string(toks[i+1:i+2], ' '))
                           ELSE [array_to_string(toks, ' ')] END AS shl
               FROM docs),
        bsh AS (SELECT DISTINCT doc_id, unnest(shl) AS shingle FROM b0),
        ush AS (SELECT DISTINCT doc_id, unnest(toks) AS shingle FROM docs),
        bdf AS (SELECT shingle, count(*) AS df_b FROM bsh GROUP BY shingle),
        udf AS (SELECT shingle AS prev, count(*) AS df_u
                FROM ush GROUP BY shingle),
        per AS (SELECT s.doc_id,
                       ln(CAST(u.df_u AS DOUBLE) / d.df_b) AS nll
                FROM bsh s
                JOIN bdf d USING (shingle)
                JOIN udf u ON u.prev = split_part(s.shingle, ' ', 1))
        SELECT doc_id, count(*) AS n_bigrams, avg(nll) AS surprisal
        FROM per GROUP BY doc_id ORDER BY doc_id
    """,
    "x32_tfidf_keywords": rf"""
        WITH {_DOCS_TOKS},
        tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
        tf AS (SELECT doc_id, token, count(*) AS tf
               FROM tok GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM documents),
        ranked AS (
            SELECT tf.doc_id, tf.token, tf.tf,
                   tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df)
                       AS tfidf,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE)
                                           / dfreq.df) DESC, tf.token)
                       AS rk
            FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        SELECT doc_id, token, tf, tfidf, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY doc_id, rk
    """,
    # q_micro: same integer micro-unit composite as the Spark side — all
    # BIGINT, floor division (// here, `div` in Spark; operands are
    # non-negative so the two agree) — no float anywhere, so rank order
    # and the kept sum are bit-exact in any engine.
    "x33_source_caps": rf"""
        WITH d2 AS (SELECT doc_id, source, text,
                           str_split_regex(trim(text), '\s+') AS toks
                    FROM documents),
        m AS (SELECT doc_id, source,
                     CAST(len(toks) AS BIGINT) AS n_tok,
                     CAST(greatest(len(toks), 1) AS BIGINT) AS n,
                     CAST(len(list_filter(toks, t -> t IN ({_STOP_EN})))
                          AS BIGINT) AS stop,
                     CAST(length(text) AS BIGINT) AS n_chars
              FROM d2),
        q AS (SELECT doc_id, source,
                     5000 * least(n_tok, 100)
                     + (300000 * (n - stop)) // n
                     + least(200000,
                             (25000 * (n_chars - (n_tok - 1))) // n)
                         AS q_micro
              FROM m),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                                           ORDER BY q_micro DESC, doc_id)
                        AS rk
              FROM q)
        SELECT source, count(*) AS n_docs,
               count(CASE WHEN rk <= {SOURCE_CAP} THEN 1 END) AS n_kept,
               CAST(sum(CASE WHEN rk <= {SOURCE_CAP} THEN q_micro END)
                    AS BIGINT) AS kept_quality_micro,
               min(CASE WHEN rk <= {SOURCE_CAP} THEN doc_id END)
                   AS min_kept_id
        FROM r GROUP BY source ORDER BY source
    """,
    # Span hashes group by h64 (not the raw string) on BOTH sides so a
    # 60-bit collision, however unlikely, merges identically.
    "x34_dup_spans": rf"""
        WITH {_DOCS_TOKS},
        sp0 AS (SELECT doc_id,
                  CASE WHEN len(toks) >= {DUP_SPAN_W}
                       THEN list_transform(
                                range(1, len(toks) - {DUP_SPAN_W - 2}),
                                i -> array_to_string(
                                         toks[i:i+{DUP_SPAN_W - 1}], ' '))
                       ELSE [array_to_string(toks, ' ')] END AS spans
                FROM docs),
        sp AS (SELECT doc_id,
                      {H64.format(s='unnest(spans)')} AS span_h
               FROM sp0),
        cnt AS (SELECT span_h, count(*) AS c FROM sp GROUP BY span_h)
        SELECT s.doc_id,
               count(*) AS n_spans,
               count(CASE WHEN c.c > 1 THEN 1 END) AS dup_spans,
               count(CASE WHEN c.c > 1 THEN 1 END) * 1.0 / count(*)
                   AS dup_frac
        FROM sp s JOIN cnt c USING (span_h)
        GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    "x35_temperature_mix": f"""
        WITH c AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
        w AS (SELECT source, n_docs,
                     CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS weight
              FROM c),
        t AS (SELECT CAST(sum(weight) AS BIGINT) AS w_tot,
                     CAST(sum(n_docs) * {MIX_TARGET_NUM}
                          // {MIX_TARGET_DEN} AS BIGINT) AS t_target
              FROM w),
        k AS (SELECT d.source, d.doc_id, w.weight,
                     ({H64.format(s='CAST(d.doc_id AS VARCHAR)')} % 1000000)
                         * t.w_tot * w.n_docs
                     < 1000000 * t.t_target * w.weight AS keep
              FROM documents d JOIN w USING (source) CROSS JOIN t)
        SELECT source, count(*) AS n_docs, max(weight) AS weight,
               count(CASE WHEN keep THEN 1 END) AS n_kept,
               min(CASE WHEN keep THEN doc_id END) AS min_kept_id
        FROM k GROUP BY source ORDER BY source
    """,
}
