"""Extension queries: dedup / similarity / text analysis / multimodal.

The training-data-pipeline surface (SURVEY §7.2 step 6), each with a DuckDB
oracle where SQL-expressible. Shared cross-engine primitives:

- h64(s)      = CAST(first 15 md5 hex chars AS BIGINT)      (60-bit, exact)
- tokens      = regex-split on whitespace after trim
- shingles(n) = ordered n-token windows; whole text if doc shorter than n
- quantized dot = Σ round(x·1000)::BIGINT · round(y·1000)::BIGINT — integer
  ranking, bit-deterministic across engines (double cosine could tie-break
  differently)

``lsh_topk`` (approximate ANN) deliberately has NO oracle — its contract is
recall vs the exact baseline (tests/test_similarity.py), not equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.functions.text import (
    LANG_MARKERS,
    LANG_ORDER,
    bpe_token_count,
    fingerprint,
    quality_features,
    token_count,
    with_lang_scores,
)
from m5_competition_kaggle_spark.multimodal.ops import (
    decode_assets,
    to_binary_assets,
)
from m5_competition_kaggle_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from m5_competition_kaggle_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

# ---------------------------------------------------------------- Spark side


def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text").orderBy("text_hash")


def x2_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_size=3,
        threshold=0.8,
    )
    return out.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"
    ).orderBy("id_a", "id_b")


def x3_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_size=3,
                              threshold=0.5)
    return out.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"
    ).orderBy("id_a", "id_b")


def x4_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=32).orderBy("doc_id")


def x5_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        fingerprint(docs, "text", shingle_size=5)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


def x6_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            bpe_token_count("text").alias("n_bpe"),
        ).orderBy("doc_id")
    )


def x7_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_features(docs, "text")
        .select(
            "doc_id", "n_chars_f", "n_tokens", "avg_token_len",
            "stopword_ratio", "punct_ratio", "quality_score",
        ).orderBy("doc_id")
    )


def x8_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        with_lang_scores(docs, "text")
        .select(
            "doc_id",
            *[f"score_{lang}" for lang in LANG_ORDER],
            "pred_lang",
        ).orderBy("doc_id")
    )


def x9_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = brute_force_topk(emb, queries, k=10)
    return out.orderBy("query_id", "rank")


def x10_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN — approximate vs x9, but DETERMINISTIC: integer
    hyperplane buckets + int64 dots mean the result itself hash-certifies
    against a DuckDB twin (``_lsh_topk_oracle``); the recall property is
    additionally pytest-verified against x9's exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # query_pred: queries ⊂ corpus by this predicate, so the corpus is
    # bucketized in ONE Arrow pass instead of two (r15, guide §4).
    out = lsh_topk(
        emb, queries, k=10, num_planes=4, num_tables=8, dim=64,
        query_pred=lambda c: c % 50 == 0,
    )
    return out.orderBy("query_id", "rank")


def x12_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (quantized dot ≥ 350000 ≈ cosine
    0.35 for ~unit vectors) via the LSH-bucketed scale path: candidates
    are bounded to same-bucket pairs (integer-exact hyperplane buckets the
    oracle reproduces), dot is exact int64 — exact precision within the
    candidate set, nothing collected to the driver.
    ``exact_near_dup_pairs`` (O(N²), broadcast matmul) remains as the
    small-N audit baseline, recall-tested in pytest."""
    from m5_competition_kaggle_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, 350_000, num_planes=4, dim=64
    ).orderBy("id_a", "id_b")


def x11_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = to_binary_assets(docs, "doc_id", "text")
    return decode_assets(assets, "doc_id", mode="fake").orderBy("doc_id")


def x15_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the ``props`` JSON string
    (absent from the reference's all-flat data model, SURVEY §1.1),
    extract + type a field, and aggregate. ``get_json_object`` stays
    JVM-side; for fixed schemas ``from_json`` gives a typed struct."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def x18_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test assignment — the standard
    leakage-free dataset split: bucket = h64(id) mod 100 → 80/10/10.
    Content-independent, stable across runs/engines (unlike sample()),
    and joins can't leak rows across splits because membership is a pure
    function of the key."""
    from m5_competition_kaggle_spark.functions.text import h64

    docs = load_table(spark, sf_dir, "documents")
    bucket = h64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
    )
    assigned = docs.select("doc_id", split.alias("split"))
    return (
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
        .orderBy("split")
    )


def x17_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB profiling: HyperLogLog++ distinct
    counts and quantile sketches per event_type. No SQL oracle — these
    BUILT-IN sketch outputs are Spark-internal by design; accuracy vs
    exact values is asserted in tests/test_sketches.py (rows-only
    driver check). For a fully hash-certified sketch see
    x45_hll_distinct (from-scratch deterministic HLL on h64)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5, 1000).alias("approx_median"),
            F.percentile_approx("value", 0.99, 1000).alias("approx_p99"),
        )
        .orderBy("event_type")
    )


def x16_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation flow — the reason the extension
    ops exist: quality-score → threshold filter → exact dedup (keep min
    doc_id per identical text) → language allowlist → greedy token-budget
    selection (best-quality-first cumulative cap). One lazy plan:
    filter → hash-agg dedup → window cumsum."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs, "text").select(
        "doc_id", "text", "lang", "n_tokens", "quality_score"
    )
    kept = scored.filter(
        (F.col("quality_score") >= 0.55) & F.col("lang").isin("en", "fr", "es")
    )
    canonical = kept.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = kept.join(canonical, "doc_id", "left_semi")
    # Greedy best-first selection under one global token budget, WITHOUT a
    # global single-partition sort: range-bucket quality_score (monotone →
    # ordering by (bucket desc, quality desc, doc_id) == the global
    # (quality desc, doc_id) order), cumulative-sum WITHIN each bucket in
    # parallel, and add each bucket's offset = total tokens of all better
    # buckets. Offsets come from a triangular self-join of the per-bucket
    # totals (≤ N_BUCKETS² rows, a constant at any scale) — the plan has
    # NO unpartitioned window.
    n_buckets = 20  # quality_score ∈ [0, 1]; ↑ for more parallelism
    bucketed = deduped.withColumn(
        "__qb", F.floor(F.col("quality_score") * n_buckets).cast("long")
    )
    totals = bucketed.groupBy("__qb").agg(F.sum("n_tokens").alias("__bt"))
    higher = totals.select(
        F.col("__qb").alias("__qb_hi"), F.col("__bt").alias("__bt_hi")
    )
    offsets = (
        totals.join(higher, F.col("__qb_hi") > F.col("__qb"), "left")
        .groupBy("__qb")
        .agg(F.coalesce(F.sum("__bt_hi"), F.lit(0)).alias("__off"))
    )
    w_in = (
        Window.partitionBy("__qb")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budgeted = (
        bucketed.join(F.broadcast(offsets), "__qb")
        .withColumn(
            "cum_tokens", F.col("__off") + F.sum("n_tokens").over(w_in)
        )
        .filter(F.col("cum_tokens") <= 5000)
    )
    return budgeted.select(
        "doc_id", "n_tokens", "quality_score", "cum_tokens"
    ).orderBy("doc_id")


def x14_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 3, via bit-block LSH
    (two hashes within distance d must agree on ≥1 of d+1 blocks)."""
    from m5_competition_kaggle_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=32)
    out = simhash_near_pairs(sims, "doc_id", max_hamming=3, bits=32)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


def x13_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for every event, the value of the user's most
    recent purchase at-or-before that instant (as-of backward join —
    operators/asof.py; oracle uses DuckDB's native ASOF JOIN)."""
    from pyspark.sql import Window

    from m5_competition_kaggle_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts_nanos").orderBy(
                    F.desc("event_id")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", "ts_nanos", F.col("value").alias("purchase_value")
        )
    )
    out = asof_join_backward(
        ev, purchases, ["user_id"], "ts_nanos", ["purchase_value"]
    )
    return out.select("event_id", "value", "purchase_value").orderBy("event_id")


def x42_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage of the multimodal pipeline, certified
    end-to-end: binary ingest → (fake-codec) decode via mapInPandas →
    every-4th-frame fan-out (sequence + explode) → deterministic
    per-frame key + feature. The real per-frame decode would chain
    another mapInPandas after this exact fan-out; the schema, batching,
    and explode shape are the production plumbing (x11 certifies the
    per-asset metadata; this certifies the per-FRAME expansion)."""
    from m5_competition_kaggle_spark.functions.text import h64
    from m5_competition_kaggle_spark.multimodal.ops import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    assets = to_binary_assets(docs, "doc_id", "text")
    meta = decode_assets(assets, "doc_id", mode="fake")
    frames = sample_frames(meta, every_n=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        h64(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("frame_idx").cast("string"),
            )
        ).alias("frame_key"),
        ((F.col("n_bytes") * (F.col("frame_idx") + 7)) % 997).alias(
            "frame_feature"
        ),
    ).orderBy("doc_id", "frame_idx")


def _zorder_terms(a: str, b: str, bits: int, shl: str, shr: str) -> str:
    """Bit-interleave (Morton/Z-order) of two ``bits``-wide non-negative
    ints as portable SQL. Emitted once per engine dialect (Spark uses
    shiftleft/shiftright functions; DuckDB the << >> operators); terms
    join with ``+`` — the bit positions are disjoint, so addition ≡ OR
    and no operator-precedence trap exists in either dialect."""
    terms = []
    for i in range(bits):
        terms.append(shl.format(x=f"({shr.format(x=a, n=i)} & 1)", n=2 * i))
        terms.append(
            shl.format(x=f"({shr.format(x=b, n=i)} & 1)", n=2 * i + 1)
        )
    return " + ".join(terms)


ZBITS = 16


def x43_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys: interleave the bits of
    (customer, order-day) so rows close in BOTH dimensions sort near
    each other — the data-layout trick behind multi-dimensional data
    skipping (Delta/Iceberg OPTIMIZE ZORDER). At scale:
    ``df.repartitionByRange(N, "zkey").sortWithinPartitions("zkey")
    .write.parquet(...)`` gives every file a tight min/max envelope on
    BOTH source columns, so row-group stats prune 2-D range predicates.
    This query certifies the key arithmetic bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    a = f"(o_custkey % {1 << ZBITS})"
    b = f"(datediff(o_orderdate, DATE'1992-01-01') % {1 << ZBITS})"
    z = _zorder_terms(
        "za", "zb", ZBITS, "shiftleft({x}, {n})", "shiftright({x}, {n})"
    )
    return (
        o.select(
            "o_orderkey",
            F.expr(a).cast("long").alias("za"),
            F.expr(b).cast("long").alias("zb"),
        )
        .withColumn("zkey", F.expr(z))
        .orderBy("o_orderkey")
    )


def x37_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|Sa ∩ Sb| / |Sa| ≥ 0.5 with
    3-token shingles): the quote/excerpt detector symmetric Jaccard (x3)
    misses when a short doc is embedded in a longer one. Integer-permille
    threshold — exact BIGINT boundary, oracle-identical pair set."""
    from m5_competition_kaggle_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = containment_pairs(
        docs, "doc_id", "text", shingle_size=3, threshold_permille=500
    )
    return out.orderBy("id_a", "id_b")


def x38_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristics per document (symbol/digit density,
    line structure) — the filter that routes crawl text to code vs
    natural-language corpora. Integer-permille ratios, no floats."""
    from m5_competition_kaggle_spark.functions.text import code_features

    docs = load_table(spark, sf_dir, "documents")
    return (
        code_features(docs, "text")
        .select(
            "doc_id", "n_chars_c", "n_symbols", "n_digits", "n_lines",
            "symbol_permille", "digit_permille", "is_code_like",
        )
        .orderBy("doc_id")
    )


def x39_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids as exact integers: posexplode the
    quantized vectors, sum each component per (label, dimension). The
    class-prototype computation behind centroid-based ANN (x23) and
    embedding-space drift monitoring — one explode + one keyed hash agg
    (map-side combinable), no shuffle of raw vectors beyond it."""
    from m5_competition_kaggle_spark.operators.centroid import centroid_sums

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_sums(emb).orderBy("label", "pos")


QUERIES = {
    "x1_dedup_exact": x1_dedup_exact,
    "x2_dedup_minhash": x2_dedup_minhash,
    "x3_dedup_ngram": x3_dedup_ngram,
    "x4_dedup_simhash": x4_dedup_simhash,
    "x5_text_fingerprint": x5_text_fingerprint,
    "x6_text_tokens": x6_text_tokens,
    "x7_text_quality": x7_text_quality,
    "x8_text_langid": x8_text_langid,
    "x9_sim_topk": x9_sim_topk,
    "x10_sim_topk_lsh": x10_sim_topk_lsh,
    "x11_multimodal_meta": x11_multimodal_meta,
    "x12_embed_near_dup": x12_embed_near_dup,
    "x13_asof_join": x13_asof_join,
    "x14_simhash_pairs": x14_simhash_pairs,
    "x15_json_props": x15_json_props,
    "x16_curation_pipeline": x16_curation_pipeline,
    "x17_approx_sketches": x17_approx_sketches,
    "x18_hash_split": x18_hash_split,
    "x37_containment_pairs": x37_containment_pairs,
    "x38_code_detect": x38_code_detect,
    "x39_label_centroids": x39_label_centroids,
    "x42_multimodal_frames": x42_multimodal_frames,
    "x43_zorder_key": x43_zorder_key,
}

# --------------------------------------------------------------- Oracle side

H64 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"

_DOCS_TOKS = r"""
docs AS (SELECT doc_id, text, lang,
                str_split_regex(trim(text), '\s+') AS toks
         FROM documents)
"""


def _shingle_cte(n: int) -> str:
    return f"""
sh0 AS (SELECT doc_id,
          CASE WHEN len(toks) >= {n}
               THEN list_transform(range(0, len(toks) - {n - 1}),
                                   i -> array_to_string(toks[i+1:i+{n}], ' '))
               ELSE [array_to_string(toks, ' ')] END AS shl
        FROM docs),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS shingle FROM sh0)
"""


def _minhash_verified_ctes(
    num_hashes: int, bands: int, include_docs: bool = True
) -> str:
    """CTE chain ending in ``vstats(id_a, id_b, n_common, n_a, n_b,
    jaccard)`` — every LSH candidate pair with its exact jaccard. Shared
    by the x2 pairs oracle and the x24/x29 cluster oracles. With
    ``include_docs=False`` the caller must define a ``docs(doc_id, toks)``
    CTE (e.g. a filtered survivor set) for the chain to read."""
    from m5_competition_kaggle_spark.operators.dedup import (
        MINHASH_P,
        minhash_params,
    )

    rows = num_hashes // bands
    base_h = H64.format(s="shingle")
    mins = ",\n        ".join(
        f"min(({a} * ({base_h} % {MINHASH_P}) + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig"
        for b in range(bands)
    )
    head = f"{_DOCS_TOKS}, " if include_docs else ""
    return f"""{head}{_shingle_cte(3)},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS (
{band_selects}
),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT p.id_a, p.id_b, count(*) AS n_common
           FROM pairs p
           JOIN sh e1 ON e1.doc_id = p.id_a
           JOIN sh e2 ON e2.doc_id = p.id_b AND e2.shingle = e1.shingle
           GROUP BY 1, 2),
vstats AS (SELECT c.id_a, c.id_b, c.n_common,
                  sa.n_sh AS n_a, sb.n_sh AS n_b,
                  c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common)
                      AS jaccard
           FROM common c
           JOIN sizes sa ON sa.doc_id = c.id_a
           JOIN sizes sb ON sb.doc_id = c.id_b)"""


def _minhash_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    return f"""
WITH {_minhash_verified_ctes(num_hashes, bands)}
SELECT id_a, id_b, n_common, n_a, n_b, jaccard
FROM vstats
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


def _ngram_oracle(threshold: float) -> str:
    return f"""
WITH {_DOCS_TOKS}, {_shingle_cte(3)},
pairs AS (SELECT DISTINCT e1.doc_id AS id_a, e2.doc_id AS id_b
          FROM sh e1 JOIN sh e2
            ON e1.shingle = e2.shingle AND e1.doc_id < e2.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT p.id_a, p.id_b, count(*) AS n_common
           FROM pairs p
           JOIN sh e1 ON e1.doc_id = p.id_a
           JOIN sh e2 ON e2.doc_id = p.id_b AND e2.shingle = e1.shingle
           GROUP BY 1, 2)
SELECT c.id_a, c.id_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= {threshold}
ORDER BY id_a, id_b
"""


def _simhash_core(bits: int) -> str:
    """CTE chain ending in ``sims(doc_id, simhash)`` — shared by the
    per-doc (x4) and pairs (x14) oracles."""
    sums = ",\n        ".join(
        f"sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits)
    )
    recompose = " + ".join(
        f"CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""{_DOCS_TOKS},
tok AS (SELECT doc_id, unnest(toks) AS t FROM docs),
h AS (SELECT doc_id, {H64.format(s='t')} AS h FROM tok),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM sums)"""


def _simhash_oracle(bits: int) -> str:
    return f"""
WITH {_simhash_core(bits)}
SELECT doc_id, simhash FROM sims ORDER BY doc_id
"""


def _simhash_pairs_oracle(bits: int, max_hamming: int) -> str:
    blocks = max_hamming + 1
    width = bits // blocks
    block_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS blk, "
        f"(simhash // {1 << (i * width)}) % {1 << width} AS val FROM sims"
        for i in range(blocks)
    )
    return f"""
WITH {_simhash_core(bits)},
blocks AS (
{block_selects}
),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM blocks a JOIN blocks b
            ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
ORDER BY id_a, id_b
"""


_STOP_EN = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])


def _embed_near_dup_oracle(threshold_dot: int, num_planes: int,
                           dim: int) -> str:
    """Twin of ``embedding_near_dup_pairs``: identical integer hyperplane
    weights (``hyperplanes``), identical quantization, pure int64 sign
    tests — the oracle recomputes bit-identical buckets, so the candidate
    sets match exactly."""
    from m5_competition_kaggle_spark.operators.similarity import hyperplanes

    planes = hyperplanes(num_planes, dim)
    bucket = " + ".join(
        "CASE WHEN list_sum(list_transform(generate_series(1, {d}), "
        "i -> v[i] * ([{w}])[i])) >= 0 THEN {bit} ELSE 0 END".format(
            d=dim, w=", ".join(str(x) for x in w), bit=1 << p
        )
        for p, w in enumerate(planes)
    )
    dot = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> lhs.v[i] * rhs.v[i])) AS BIGINT)"
    )
    return f"""
WITH qv AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
bk AS (SELECT vec_id, v, ({bucket}) AS bucket FROM qv)
SELECT lhs.vec_id AS id_a, rhs.vec_id AS id_b, {dot} AS dot
FROM bk lhs JOIN bk rhs
  ON lhs.bucket = rhs.bucket AND lhs.vec_id < rhs.vec_id
WHERE {dot} >= {threshold_dot}
ORDER BY id_a, id_b
"""


def _lsh_topk_oracle(
    k: int, num_planes: int, num_tables: int, dim: int, q_mod: int
) -> str:
    """Twin of ``lsh_topk``: per-table integer hyperplane buckets (same
    ``hyperplanes`` literals), candidate pairs from the (table, bucket)
    equi-join across all tables, exact quantized dot, (dot DESC, id)
    ranked top-k. Everything is int64 sign tests and products, so the
    approximate op's RESULT is still fully deterministic and the oracle
    reproduces it bit-for-bit — only the recall-vs-exact property needs
    pytest (vs x9)."""
    from m5_competition_kaggle_spark.operators.similarity import hyperplanes

    per_table = []
    for t in range(num_tables):
        bucket = " + ".join(
            "CASE WHEN list_sum(list_transform(generate_series(1, {d}), "
            "i -> v[i] * ([{w}])[i])) >= 0 THEN {bit} ELSE 0 END".format(
                d=dim, w=", ".join(str(x) for x in w), bit=1 << p
            )
            for p, w in enumerate(hyperplanes(num_planes, dim, table=t))
        )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, ({bucket}) AS bucket FROM qv"
        )
    bk = "\nUNION ALL\n".join(per_table)
    dot = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> a.v[i] * b.v[i])) AS BIGINT)"
    )
    return f"""
WITH qv AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
bk AS ({bk}),
cand AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         FROM bk n JOIN bk q ON n.tbl = q.tbl AND n.bucket = q.bucket
         WHERE q.vec_id % {q_mod} = 0 AND n.vec_id <> q.vec_id),
scored AS (SELECT c.query_id, c.neighbor_id, {dot} AS dot
           FROM cand c
           JOIN qv a ON a.vec_id = c.query_id
           JOIN qv b ON b.vec_id = c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, dot,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, neighbor_id)
                      AS "rank"
           FROM scored)
SELECT query_id, neighbor_id, dot, "rank"
FROM ranked WHERE "rank" <= {k}
ORDER BY query_id, "rank"
"""


def _langid_oracle() -> str:
    scores = ",\n       ".join(
        "len(list_filter(toks, x -> x IN ({lst}))) * 1.0"
        " / greatest(len(toks), 1) AS score_{lang}".format(
            lst=", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang=lang
        )
        for lang in LANG_ORDER
    )
    # argmax with first-in-LANG_ORDER tie-break, checked latest→earliest
    branches = []
    for idx in range(len(LANG_ORDER) - 1, 0, -1):
        lang = LANG_ORDER[idx]
        earlier = ", ".join(f"score_{lg}" for lg in LANG_ORDER[:idx])
        gt = f"greatest({earlier})" if idx > 1 else earlier
        branches.append(f"WHEN score_{lang} > {gt} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{LANG_ORDER[0]}' END"
    cols = ", ".join(f"score_{lang}" for lang in LANG_ORDER)
    return f"""
WITH {_DOCS_TOKS},
s AS (SELECT doc_id,
       {scores}
      FROM docs)
SELECT doc_id, {cols}, {case} AS pred_lang
FROM s ORDER BY doc_id
"""


ORACLES = {
    "x1_dedup_exact": """
        SELECT text_hash, min(doc_id) AS canonical_id,
               count(*) AS dup_count
        FROM (SELECT doc_id, md5(text) AS text_hash FROM documents)
        GROUP BY text_hash ORDER BY text_hash
    """,
    "x2_dedup_minhash": _minhash_oracle(16, 4, 0.8),
    "x3_dedup_ngram": _ngram_oracle(0.5),
    "x4_dedup_simhash": _simhash_oracle(32),
    "x14_simhash_pairs": _simhash_pairs_oracle(32, 3),
    "x18_hash_split": """
        WITH assigned AS (
            SELECT doc_id,
                   CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 15) AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 15) AS BIGINT) % 100 < 90 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents)
        SELECT split, count(*) AS n, min(doc_id) AS min_id
        FROM assigned GROUP BY split ORDER BY split
    """,
    "x16_curation_pipeline": rf"""
        WITH {_DOCS_TOKS},
        m AS (SELECT doc_id, text, lang,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               0.5 * least(1.0, len(toks) / 100.0)
                 + 0.3 * (1.0 - len(list_filter(toks,
                       t -> t IN ({_STOP_EN}))) * 1.0
                       / greatest(len(toks), 1))
                 + 0.2 * least(1.0, (length(text) - (len(toks) - 1)) * 1.0
                       / greatest(len(toks), 1) / 8.0) AS quality_score
              FROM docs),
        kept AS (SELECT * FROM m
                 WHERE quality_score >= 0.55 AND lang IN ('en','fr','es')),
        canonical AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
                      FROM kept GROUP BY md5(text)),
        deduped AS (SELECT k.* FROM kept k
                    WHERE k.doc_id IN (SELECT doc_id FROM canonical)),
        budgeted AS (
            SELECT doc_id, n_tokens, quality_score,
                   CAST(sum(n_tokens) OVER (
                        ORDER BY quality_score DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum_tokens
            FROM deduped)
        SELECT doc_id, n_tokens, quality_score, cum_tokens
        FROM budgeted WHERE cum_tokens <= 5000
        ORDER BY doc_id
    """,
    "x15_json_props": """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "x5_text_fingerprint": f"""
        WITH {_DOCS_TOKS}, {_shingle_cte(5)}
        SELECT doc_id,
               list_min(list_transform(shl,
                   s -> {H64.format(s='s')})) AS fingerprint
        FROM sh0 ORDER BY doc_id
    """,
    "x6_text_tokens": r"""
        SELECT doc_id,
               len(str_split_regex(trim(text), '\s+')) AS n_tokens,
               len(regexp_extract_all(text,
                   '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe
        FROM documents ORDER BY doc_id
    """,
    "x7_text_quality": rf"""
        WITH {_DOCS_TOKS},
        m AS (SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_f,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               (length(text) - (len(toks) - 1)) * 1.0
                   / greatest(len(toks), 1) AS avg_token_len,
               len(list_filter(toks, t -> t IN ({_STOP_EN}))) * 1.0
                   / greatest(len(toks), 1) AS stopword_ratio,
               len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
                   / greatest(length(text), 1) AS punct_ratio
              FROM docs)
        SELECT doc_id, n_chars_f, n_tokens, avg_token_len,
               stopword_ratio, punct_ratio,
               0.5 * least(1.0, n_tokens / 100.0)
                 + 0.3 * (1.0 - stopword_ratio)
                 + 0.2 * least(1.0, avg_token_len / 8.0) AS quality_score
        FROM m ORDER BY doc_id
    """,
    "x8_text_langid": _langid_oracle(),
    "x9_sim_topk": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id % 50 = 0),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(
                     generate_series(1, len(e.embedding)),
                     i -> CAST(round(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT)
                        * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000)
                               AS BIGINT))) AS BIGINT) AS dot
          FROM embeddings e, q
          WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, neighbor_id) AS "rank"
          FROM scored)
        SELECT query_id, neighbor_id, dot, "rank"
        FROM ranked WHERE "rank" <= 10
        ORDER BY query_id, "rank"
    """,
    # x10: the op is APPROXIMATE relative to x9, but its result is fully
    # deterministic int64 math, so it hash-certifies like any other
    # query; the recall property is separately pytest-verified vs x9.
    "x10_sim_topk_lsh": _lsh_topk_oracle(10, 4, 8, 64, 50),
    "x12_embed_near_dup": _embed_near_dup_oracle(350_000, 4, 64),
    "x13_asof_join": """
        WITH purchases AS (
            SELECT user_id, ts, value AS purchase_value
            FROM events WHERE event_type = 'purchase'
            QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) = 1
        )
        SELECT e.event_id, e.value, p.purchase_value
        FROM events e
        ASOF LEFT JOIN purchases p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        ORDER BY e.event_id
    """,
    "x11_multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               64 + octet_length(encode(text)) % 577 AS width,
               64 + (octet_length(encode(text)) * 31) % 577 AS height,
               1 + octet_length(encode(text)) % 24 AS n_frames
        FROM documents ORDER BY doc_id
    """,
    "x37_containment_pairs": rf"""
        WITH {_DOCS_TOKS}, {_shingle_cte(3)},
        common AS (SELECT e1.doc_id AS id_a, e2.doc_id AS id_b,
                          count(*) AS n_common
                   FROM sh e1 JOIN sh e2
                     ON e1.shingle = e2.shingle
                    AND e1.doc_id <> e2.doc_id
                   GROUP BY 1, 2),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
        SELECT c.id_a, c.id_b, c.n_common, sa.n_sh AS n_a,
               (c.n_common * 1000) // sa.n_sh AS containment_permille
        FROM common c JOIN sizes sa ON sa.doc_id = c.id_a
        WHERE c.n_common * 1000 >= 500 * sa.n_sh
        ORDER BY id_a, id_b
    """,
    "x38_code_detect": r"""
        WITH f AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_c,
                   CAST(length(text) - length(regexp_replace(text,
                        '[{}()\[\];=<>]', '', 'g')) AS BIGINT) AS n_symbols,
                   CAST(length(text) - length(regexp_replace(text,
                        '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                   CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines
            FROM documents)
        SELECT doc_id, n_chars_c, n_symbols, n_digits, n_lines,
               (n_symbols * 1000) // greatest(n_chars_c, 1)
                   AS symbol_permille,
               (n_digits * 1000) // greatest(n_chars_c, 1)
                   AS digit_permille,
               ((n_symbols * 1000) // greatest(n_chars_c, 1) >= 50
                OR n_lines > 10) AS is_code_like
        FROM f ORDER BY doc_id
    """,
    "x43_zorder_key": f"""
        WITH src AS (
            SELECT o_orderkey,
                   CAST(o_custkey % {1 << ZBITS} AS BIGINT) AS za,
                   CAST(datediff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE))
                        % {1 << ZBITS} AS BIGINT) AS zb
            FROM orders)
        SELECT o_orderkey, za, zb,
               {_zorder_terms("za", "zb", ZBITS,
                              "(({x}) << {n})", "(({x}) >> {n})")} AS zkey
        FROM src ORDER BY o_orderkey
    """,
    "x42_multimodal_frames": f"""
        WITH meta AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   1 + octet_length(encode(text)) % 24 AS n_frames
            FROM documents),
        fr AS (SELECT doc_id, n_bytes,
                      unnest(generate_series(0, n_frames - 1, 4))
                          AS frame_idx
               FROM meta)
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               {H64.format(s="doc_id || ':' || frame_idx")} AS frame_key,
               (n_bytes * (frame_idx + 7)) % 997 AS frame_feature
        FROM fr ORDER BY doc_id, frame_idx
    """,
    "x39_label_centroids": """
        WITH q AS (SELECT label,
                          unnest(generate_series(1, len(embedding))) AS i,
                          embedding
                   FROM embeddings)
        SELECT label, CAST(i - 1 AS BIGINT) AS pos,
               CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                             AS BIGINT)) AS BIGINT) AS sum_q,
               COUNT(*) AS n_vectors
        FROM q GROUP BY label, pos
        ORDER BY label, pos
    """,
}
