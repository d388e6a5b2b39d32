"""Corpus-curation operators for large-scale training-data pipelines.

Extension surface beyond the reference (which has no text pipeline):
document chunking, benchmark decontamination, stratified deterministic
sampling, and repetition-based quality metrics — the standard curation
steps between raw crawl and training shards. All pure DataFrame
expressions (JVM-side, codegen'd) or broadcast-bounded joins, so each
plan survives a 100 TB corpus:

- chunking:       per-row array expressions, embarrassingly parallel.
- decontaminate:  corpus shingles ⋈ broadcast(benchmark shingles) —
                  benchmark suites are tiny at any corpus scale, so the
                  join side that grows is never shuffled by shingle.
- stratified:     pure hash predicate per row (leakage-free, rerunnable).
- repetition:     per-row array expressions (n-gram distinct ratios).

Determinism: hashing via ``functions.text.h64`` and integer permille
thresholds, so DuckDB oracles replicate results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from m5_competition_kaggle_spark.functions.text import h64, tokens
from m5_competition_kaggle_spark.operators.dedup import doc_shingles


def chunk_documents(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    chunk_size: int = 32,
    stride: int = 24,
    tokens_col: str | None = None,
) -> DataFrame:
    """Sliding-window token chunking with overlap (chunk_size − stride).
    ``tokens_col`` (array<string>) skips re-tokenizing ``text_col``.

    One chunk starts at every token offset ``0, stride, 2·stride, …`` below
    the document length; the final chunk may be short. Returns one row per
    chunk: (key, chunk_idx, chunk_start, n_chunk_tokens, chunk_hash) where
    chunk_hash = h64 of the space-joined chunk text — the id downstream
    chunk-level dedup or embedding jobs key on.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError("stride must be in (0, chunk_size]")
    out = df.select(
        F.col(key_col),
        (F.col(tokens_col) if tokens_col else tokens(text_col)).alias(
            "__toks"
        ),
    )
    out = out.select(
        key_col,
        "__toks",
        F.explode(
            F.expr(f"sequence(0, size(__toks) - 1, {stride})")
        ).alias("chunk_start"),
    )
    chunk = F.expr(f"slice(__toks, chunk_start + 1, {chunk_size})")
    return out.select(
        F.col(key_col),
        (F.col("chunk_start") / stride).cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        h64(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def contamination_hits(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    bench_pred: Column,
    shingle_size: int = 5,
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 token
    n-gram with any benchmark document, with the shared-shingle count.

    ``bench_pred`` (a boolean Column over ``key_col``) defines the
    benchmark split. The benchmark's distinct shingle set broadcasts —
    eval suites stay small while the corpus grows, so the corpus side is
    never shuffled by shingle. Returns (key, n_hits), hit docs only;
    anti-join this against the corpus to drop them.
    """
    # Filter BEFORE shingling: the benchmark branch only tokenizes its
    # tiny split instead of re-shingling the whole corpus a second time.
    bench = (
        doc_shingles(
            df.filter(bench_pred), key_col, text_col, shingle_size,
            tokens_col=tokens_col,
        )
        .select("shingle")
        .distinct()
    )
    corpus = doc_shingles(
        df.filter(~bench_pred), key_col, text_col, shingle_size,
        tokens_col=tokens_col,
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        # doc_shingles is distinct per (key, shingle) → count == distinct
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def stratified_keep(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    permille: dict[str, int],
    default_permille: int = 100,
) -> Column:
    """Deterministic per-stratum sampling predicate: keep a row iff
    ``h64(key) mod 1000 < permille[stratum]``. The standard domain/language
    mixing knob: content-independent, stable across runs and engines, and
    joins can't leak rows across the kept/dropped split because membership
    is a pure function of the key."""
    rate = F.lit(default_permille)
    for stratum, p in sorted(permille.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(p)).otherwise(rate)
    return (h64(F.col(key_col).cast("string")) % 1000) < rate


def dup_span_features(
    df: DataFrame,
    key_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Cross-document duplicate-span detection (the substring-level dedup
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", restated relationally): hash every ``window``-token sliding
    span at stride 1; a span position is *duplicated* when its hash occurs
    at more than one position anywhere in the corpus (any document, its
    own included). Per document: (key, n_spans, dup_spans, dup_frac) —
    the signal used to drop or trim documents that are mostly boilerplate
    shared with the rest of the crawl.

    Scale shape (r14 one-pass form): the explode emits one 16-byte
    (key, span_hash) row per token position; ONE map-side-combinable
    aggregate collapses positions to (span_hash, key, c_ks); the corpus
    multiplicity of a span is a window SUM over its span_hash partition
    (c_s = Σ_k c_ks — bounded by the number of documents containing the
    span, not its position count); the rollup on key then counts a
    position as duplicated iff c_s > 1. Nothing global, no Python, no
    join — the previous shape derived the position pipeline TWICE (once
    for the multiplicity aggregate, once for the back-join's probe side)
    and shuffled full position rows through the join. (A suffix array
    computes the same decision bits exactly; the hashed fixed-width
    window is the standard distributed approximation.) Documents shorter
    than ``window`` tokens contribute their whole text as a single span
    — same convention as ``doc_shingles``.
    """
    spans = (
        f"transform(sequence(1, size(__toks) - {window - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {window})))"
    )
    guarded = (
        f"CASE WHEN size(__toks) >= {window} THEN {spans} "
        f"ELSE array(concat_ws(' ', __toks)) END"
    )
    pos = (
        df.select(F.col(key_col), tokens(text_col).alias("__toks"))
        .select(key_col, F.explode(F.expr(guarded)).alias("__span"))
        .select(key_col, h64(F.col("__span")).alias("span_h"))
    )
    per_doc = pos.groupBy("span_h", key_col).agg(
        F.count(F.lit(1)).alias("__c_ks")
    )
    w = Window.partitionBy("span_h")
    return (
        per_doc.withColumn("__c_s", F.sum("__c_ks").over(w))
        .groupBy(key_col)
        .agg(
            F.sum("__c_ks").alias("n_spans"),
            F.sum(
                F.when(F.col("__c_s") > 1, F.col("__c_ks")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.col("dup_spans") * F.lit(1.0) / F.col("n_spans"),
        )
    )


def temperature_mix_stats(
    df: DataFrame,
    key_col: str,
    source_col: str,
    target_num: int = 3,
    target_den: int = 10,
) -> DataFrame:
    """Temperature-flattened source mixing (α = 0.5): per-source keep
    probability ∝ n_s^α, normalized so the expected kept total is
    ``target_num/target_den`` of the corpus, capped at 1. Rare sources
    are up-weighted, head sources down-weighted.

    Determinism: the only float op is w_s = floor(sqrt(n_s)·1000) (sqrt
    is IEEE correctly-rounded, so every engine floors the same value);
    membership is then the pure BIGINT comparison
    ``hash6(key) · W · n_s < 10^6 · T · w_s`` — no float thresholds, so a
    SQL oracle keeps bit-identical document sets. (At extreme per-source
    counts the product needs DECIMAL(38) headroom or operand
    rebalancing; any realistic n_s fits int64.)

    Scale shape: one hash agg for per-source counts, a 1-row total, a
    broadcast join of per-source thresholds back onto the corpus, one
    keyed rollup — the corpus never shuffles.

    Returns (source, n_docs, weight, n_kept, min_kept_id).
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    wts = counts.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs")) * 1000).cast("long")
    )
    tot = wts.agg(
        F.sum("weight").alias("__w_tot"),
        F.expr(f"(sum(n_docs) * {target_num}L) div {target_den}").alias(
            "__t_target"
        ),
    )
    per_source = wts.crossJoin(F.broadcast(tot))
    keep = (
        (h64(F.col(key_col).cast("string")) % 1000000)
        * F.col("__w_tot") * F.col("n_docs")
        < F.lit(1000000) * F.col("__t_target") * F.col("weight")
    )
    return (
        df.join(F.broadcast(per_source), source_col)
        .withColumn("__keep", keep)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("weight").alias("weight"),
            F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
            F.min(F.when(F.col("__keep"), F.col(key_col))).alias(
                "min_kept_id"
            ),
        )
    )


def repetition_features(
    df: DataFrame, text_col: str, flag_threshold: float = 0.5
) -> DataFrame:
    """Repetition-based quality metrics (Gopher-style): the fraction of
    duplicated token bigrams / trigrams per document, and a repetitive
    flag. Pure array expressions — no explode, no shuffle."""
    out = df.withColumn("__toks", tokens(text_col))

    def grams(n: int) -> Column:
        g = (
            f"transform(sequence(1, size(__toks) - {n - 1}), "
            f"i -> concat_ws(' ', slice(__toks, i, {n})))"
        )
        # sequence() counts DOWN when the stop is below the start — guard
        # short docs to an empty gram list instead
        return F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN {g} ELSE array() END"
        )

    def dup_frac(col: str) -> Column:
        return F.expr(
            f"(size({col}) - size(array_distinct({col}))) * 1.0D"
            f" / greatest(size({col}), 1)"
        )

    # Materialize each gram array in its own projection so the transform
    # runs once per row, not once per reference (CollapseProject keeps
    # multi-referenced non-cheap expressions in a separate stage).
    out = out.withColumns({"__g2": grams(2), "__g3": grams(3)})
    out = out.withColumns(
        {
            "n_tokens": F.size("__toks").cast("long"),
            "dup_bigram_frac": dup_frac("__g2"),
            "dup_trigram_frac": dup_frac("__g3"),
        }
    ).drop("__g2", "__g3")
    return out.withColumn(
        "is_repetitive", F.col("dup_bigram_frac") > F.lit(flag_threshold)
    ).drop("__toks")


BLOOM_M = 1 << 14  # bits in the filter
BLOOM_K = 4  # hash probes per element


def h64_sql(col_name: str) -> str:
    """SQL-expression form of functions.text.h64 for expr() contexts."""
    return f"cast(conv(substring(md5({col_name}), 1, 15), 16, 10) as bigint)"


def _bloom_positions(h: str) -> Column:
    """array<long> of the BLOOM_K bit positions of an h64 SQL expression
    ``h`` (``h64_sql(col)``, or an already-hashed int64 column), by
    double hashing ONE h64: h1 = low 30 bits, h2 = high bits forced
    odd, pos_i = (h1 + i·h2) mod m — pure int64, identical in any
    engine."""
    return F.expr(
        "array("
        + ", ".join(
            f"pmod((({h}) % {1 << 30}) + {i} * ((({h}) div {1 << 30}) * 2 + 1), {BLOOM_M})"
            for i in range(BLOOM_K)
        )
        + ")"
    )


def bloom_contamination_stats(
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    bench_pred: Column,
    shingle_size: int = 4,
    tokens_col: str | None = None,
    exact_audit: bool = True,
) -> DataFrame:
    """Decontamination via a DETERMINISTIC Bloom filter — the broadcast
    plan for 100 TB corpora: instead of equi-joining corpus shingle
    STRINGS against the benchmark set (``contamination_hits``), the
    benchmark compresses to ≤ 2^14 distinct set-bit positions which
    broadcast as a tiny int join side; the corpus probes map-side with
    integer keys and is never shuffled by shingle. The filter is built
    from ``h64`` double hashing (``_bloom_positions``), so a SQL oracle
    reproduces every bit and every probe — membership is exact-replica
    certifiable even though Bloom membership itself is approximate.

    Returns per corpus doc: shingle count and Bloom-positive count. A
    production pipeline drops docs with bloom_hits > 0 and pays only
    the Bloom false-positive rate, which the audit quantifies:

    - ``exact_audit=True`` (x46) also returns the EXACT hit count (the
      precise string join the filter exists to avoid) and the observed
      false positives — certifying both the mechanism and its
      accuracy, like x45 does for HLL. Probes are grouped by shingle
      string.
    - ``exact_audit=False`` (x48) is the fast path: probes ride the
      shingle's h64, so the string dies in the projection that hashes
      it and no join or exchange ever carries a shingle string; the
      only broadcast stays the set-bit positions. Grouping by h64
      instead of the string merges h64-colliding shingles within one
      document (their probe group then has 2K set-bit hits and is
      dropped — a miss, not a false drop). At 64 bits this is a ~1e-19
      per-pair event, and it is part of the operator's deterministic
      definition, so x48's oracle twin reproduces it exactly.
    """
    if exact_audit:
        probe_col, probe, h = "shingle", F.col("shingle"), h64_sql("shingle")
    else:
        # The benchmark side dedups by h64 too: bit positions are a pure
        # function of h, so the bit SET is identical (even under h64
        # collisions) while the distinct exchange carries 8-byte ints.
        probe_col = h = "__h"
        probe = F.expr(h64_sql("shingle")).alias("__h")
    bench_sh = doc_shingles(
        df.filter(bench_pred), key_col, text_col, shingle_size,
        tokens_col=tokens_col,
    ).select(probe).distinct()
    bits = (
        bench_sh.select(
            F.explode(_bloom_positions(h)).alias("pos")
        )
        .distinct()
    )
    corpus_sh = doc_shingles(
        df.filter(~bench_pred), key_col, text_col, shingle_size,
        tokens_col=tokens_col,
    )
    probes = corpus_sh.select(key_col, probe).select(
        key_col,
        probe_col,
        F.explode(_bloom_positions(h)).alias("pos"),
    )
    # a shingle is Bloom-positive iff ALL K of its bits are set
    sh_flags = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy(key_col, probe_col)
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_K)
        .select(key_col, probe_col)
    )
    bloom_per_doc = sh_flags.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("bloom_hits")
    )
    totals = corpus_sh.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    out = totals.join(bloom_per_doc, key_col, "left")
    bloom_hits = F.coalesce("bloom_hits", F.lit(0))
    if not exact_audit:
        return out.select(
            F.col(key_col), "n_shingles", bloom_hits.alias("bloom_hits")
        )
    exact_per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_hits"))
    )
    exact_hits = F.coalesce("exact_hits", F.lit(0))
    return out.join(exact_per_doc, key_col, "left").select(
        F.col(key_col),
        "n_shingles",
        bloom_hits.alias("bloom_hits"),
        exact_hits.alias("exact_hits"),
        (bloom_hits - exact_hits).alias("false_positives"),
    )
