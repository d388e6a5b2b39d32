"""Round-12 queue — STAGED UNREGISTERED (the r11 window is fully
booked: 32 re-bank picks + 12 prefix-fix stales + 6 r11 promotions).
Locally certified by ``tests/test_r12_queue.py`` with the same
Spark-vs-DuckDB differential as ``scripts/check_oracle.py``.

- x162 LSH band power (``operators/lsh_power.py``): the S-curve
  1−(1−j^r)^b over the observed exact-Jaccard mass, as a truncating
  integer ppm recurrence — turns x159's threshold sweep into a
  concrete (bands, rows) choice for the x2 MinHash config.
- x163 IVF re-cluster decision (``operators/ivf_maintain.py``): the
  incremental-maintenance loop — train on the even-id half (x155's
  integer Lloyd), assign the odd-id half, certify per-list growth /
  occupancy skew and the retrain flag.
- x164 PQ distortion (``operators/pq_eval.py``): per-subspace
  quantization error of the x72 PQ codebook — the compression-health
  complement of x137's IVF occupancy audit.
- x165 shard-packing audit: per-shard totals/overrun certificate on
  the x26 packing — overrun is bounded by the boundary chunk BY
  CONSTRUCTION (an item packs where its START offset falls), and this
  certifies that invariant corpus-wide, directly downstream of this
  round's prefix-scan rework.
- x166 BM25 → rerank → RBO+nDCG (``operators/retrieval|rbo|
  ranking_eval``): the end-to-end retrieval-eval composition — BM25
  top-20 shortlist, pseudo-relevance rerank by exact embedding dot
  against the lexical top-1 anchor, then RBO(lexical, semantic) and
  graded nDCG of the reranked list under lexical gains, one hash.
- s23/s24 streaming trend twins (``streaming/trend_monitor.py``): the
  x149 changepoint and x153 Theil–Sen kernels re-based onto bounded
  per-(day, key) streaming cells — the monitor-family pattern, with
  the update-mode ClosingDayStore deployment tested beside the batch
  twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.sources.catalog import load_table

# --------------------------------------------------------------- x162


def x162_lsh_band_power(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-Jaccard pair mass (x159's doc_id % 5 sample and
    tokenization) pushed through the integer band-capture recurrence
    for the n_hashes = 16 config grid (b, r) ∈ {(2,8), (4,4), (8,2),
    (16,1)} — per (config, jaccard bucket): pair count and the
    min/max/sum of capture ppm. Reading: the config whose capture
    mass jumps exactly at the intended threshold bucket is the right
    (b, r); x2's (4,4) is one row of this table."""
    from m5_competition_kaggle_spark.operators.lsh_power import (
        capture_ppm_sql,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    s = docs.select(
        F.col("doc_id").alias("d"),
        F.array_distinct(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("toks"),
    ).withColumn("nt", F.size("toks").cast("long"))
    b = s.select(
        F.col("d").alias("d2"),
        F.col("toks").alias("toks2"),
        F.col("nt").alias("nt2"),
    )
    pairs = s.join(
        F.broadcast(b), F.col("d") < F.col("d2"), "inner"
    ).select(
        (
            F.lit(1000)
            * F.size(F.array_intersect("toks", "toks2")).cast("long")
        ).alias("__num"),
        (
            F.col("nt")
            + F.col("nt2")
            - F.size(F.array_intersect("toks", "toks2")).cast("long")
        ).alias("__den"),
        # guard on nt + nt2, not __den: equivalent rows (inter <=
        # min(nt, nt2) => __den >= max(nt, nt2)) and the cheap form
        # keeps the pushed-down BNLJ condition free of the intersect
        # (the x159 lesson: 3 evaluations per pair instead of 1)
        ((F.col("nt") + F.col("nt2")) > 0).alias("__cheap_nonempty"),
    )
    jac = pairs.where(F.col("__cheap_nonempty")).select(
        F.expr("__num DIV __den").alias("jac_permille")
    )
    # collapse the pair mass to the <=1001 DISTINCT permille values
    # BEFORE the 4-config fan-out: capture is a pure function of
    # jac_permille, so per-bucket sum/min/max over count-weighted
    # distinct values equals the per-pair computation exactly — the
    # capture arithmetic runs ~1001x4 times instead of |pairs|x4
    # (measured 43.5x -> pair-join-bound at 10x)
    hist = jac.groupBy("jac_permille").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cfg = F.array(
        *[
            F.struct(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                F.expr(
                    capture_ppm_sql("jac_permille", rows, bands, "DIV")
                ).alias("cap_ppm"),
            )
            for bands, rows in ((2, 8), (4, 4), (8, 2), (16, 1))
        ]
    )
    stacked = hist.select(
        F.expr("jac_permille DIV 100").alias("bucket"),
        "cnt",
        F.explode(cfg).alias("c"),
    ).select(
        "c.bands", "c.rows_per_band", "bucket", "cnt", "c.cap_ppm"
    )
    return (
        stacked.groupBy("bands", "rows_per_band", "bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_pairs"),
            F.sum(F.col("cnt") * F.col("cap_ppm"))
            .cast("long")
            .alias("sum_capture_ppm"),
            F.min("cap_ppm").alias("min_capture_ppm"),
            F.max("cap_ppm").alias("max_capture_ppm"),
        )
        .orderBy("bands", "bucket")
    )


def _lsh_power_oracle() -> str:
    from m5_competition_kaggle_spark.operators.lsh_power import (
        capture_ppm_sql,
    )

    cases = " ".join(
        f"WHEN c.bands = {bands} THEN "
        + capture_ppm_sql("p.jp", rows, bands, "//")
        for bands, rows in ((2, 8), (4, 4), (8, 2), (16, 1))
    )
    return f"""
WITH samp AS (
    SELECT doc_id AS d,
           list_distinct(str_split_regex(trim(text), '\\s+')) AS toks
    FROM documents WHERE doc_id % 5 = 0
),
samp2 AS (
    SELECT d, toks, CAST(len(toks) AS BIGINT) AS nt FROM samp
),
pr AS (
    SELECT CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
               AS inter,
           a.nt + b.nt AS tot
    FROM samp2 a JOIN samp2 b ON a.d < b.d
),
jac AS (
    SELECT 1000 * inter // (tot - inter) AS jp FROM pr
    WHERE tot - inter > 0
),
cfg AS (
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band
    FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1))
         AS t(bands, rows_per_band)
),
cap AS (
    SELECT c.bands, c.rows_per_band, p.jp // 100 AS bucket,
           CASE {cases} END AS cap_ppm
    FROM jac p CROSS JOIN cfg c
)
SELECT bands, rows_per_band, bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(cap_ppm) AS BIGINT) AS sum_capture_ppm,
       CAST(min(cap_ppm) AS BIGINT) AS min_capture_ppm,
       CAST(max(cap_ppm) AS BIGINT) AS max_capture_ppm
FROM cap GROUP BY 1, 2, 3 ORDER BY bands, bucket
"""


# --------------------------------------------------------------- x163


def x163_ivf_recluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental IVF maintenance: the codebook is TRAINED on the
    even-id half of the corpus (x155's 2-round integer Lloyd — the
    ``vid < 16`` seed rule over even ids yields the 8 lists
    {0,2,…,14}), the odd-id half arrives as new data, and the
    decision table certifies per-list growth, occupancy skew and the
    integer-threshold retrain flag."""
    from m5_competition_kaggle_spark.operators.ivf_maintain import (
        list_growth,
    )
    from m5_competition_kaggle_spark.operators.kmeans import (
        train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cent = train_centroids(old, k=16, rounds=2)
    # the split is 1:1 by construction, so a list's fair growth is
    # exactly 1000 permille — growth above that marks lists receiving
    # MORE than their historical share (the drift signal; fires on a
    # minority of lists at every SF, which is the point), and
    # occupancy 1250 flags a list 25% over fair share.
    return list_growth(
        old, new, cent, growth_thresh=1000, occ_thresh=1250
    )


def _ivf_recluster_oracle(k: int = 16, rounds: int = 2) -> str:
    """Unrolled even-half Lloyd training + both-half assignment +
    the maintenance rollup. Restates the certified x155 arithmetic
    (extensions_r10._kmeans_oracle: exact int64 distance argmin with
    cid tie-break, integer-rounded means, empty clusters carried
    forward) on the filtered source — x155's text hard-wires the full
    corpus, so it cannot nest."""
    parts = [
        f"""
WITH qall AS MATERIALIZED (
    SELECT vec_id AS vid,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS v
    FROM embeddings
),
q AS MATERIALIZED (SELECT * FROM qall WHERE vid % 2 = 0),
qnew AS MATERIALIZED (SELECT * FROM qall WHERE vid % 2 = 1),
cent0 AS MATERIALIZED (
    SELECT vid AS cid, v AS cv FROM q WHERE vid < {k}
)"""
    ]
    prev = "cent0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
    SELECT q.vid, c.cid,
           CAST(sum((q.v[u.i] - c.cv[u.i])
                    * (q.v[u.i] - c.cv[u.i])) AS BIGINT) AS d2
    FROM q CROSS JOIN {prev} c,
         unnest(generate_series(1, len(q.v))) AS u(i)
    GROUP BY 1, 2
),
a{r} AS MATERIALIZED (
    SELECT vid, cid FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM d{r}
    ) WHERE rn = 1
),
s{r} AS MATERIALIZED (
    SELECT a.cid, u.i,
           CAST(sum(q.v[u.i]) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM a{r} a JOIN q ON q.vid = a.vid,
         unnest(generate_series(1, len(q.v))) AS u(i)
    GROUP BY 1, 2
),
cent{r} AS MATERIALIZED (
    SELECT cid, list(r ORDER BY i) AS cv FROM (
        SELECT cid, i,
               CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                    ELSE -((2 * (-s) + n) // (2 * n)) END AS r
        FROM s{r}
    ) GROUP BY cid
    UNION ALL
    SELECT c.cid, c.cv FROM {prev} c
    WHERE c.cid NOT IN (SELECT DISTINCT cid FROM s{r})
)"""
        )
        prev = f"cent{r}"
    parts.append(
        f""",
dold AS MATERIALIZED (
    SELECT q.vid, c.cid,
           CAST(sum((q.v[u.i] - c.cv[u.i])
                    * (q.v[u.i] - c.cv[u.i])) AS BIGINT) AS d2
    FROM q CROSS JOIN {prev} c,
         unnest(generate_series(1, len(q.v))) AS u(i)
    GROUP BY 1, 2
),
aold AS (
    SELECT vid, cid FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM dold
    ) WHERE rn = 1
),
dnew AS MATERIALIZED (
    SELECT q.vid, c.cid,
           CAST(sum((q.v[u.i] - c.cv[u.i])
                    * (q.v[u.i] - c.cv[u.i])) AS BIGINT) AS d2
    FROM qnew q CROSS JOIN {prev} c,
         unnest(generate_series(1, len(q.v))) AS u(i)
    GROUP BY 1, 2
),
anew AS (
    SELECT vid, cid FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM dnew
    ) WHERE rn = 1
),
oldc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_old
         FROM aold GROUP BY cid),
newc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_new
         FROM anew GROUP BY cid),
joined AS (
    SELECT c.cid,
           coalesce(o.n_old, 0) AS n_old,
           coalesce(w.n_new, 0) AS n_new
    FROM {prev} c
    LEFT JOIN oldc o ON o.cid = c.cid
    LEFT JOIN newc w ON w.cid = c.cid
),
tot AS (
    SELECT CAST(sum(n_old + n_new) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM joined
)
SELECT j.cid AS cid, j.n_old AS n_old, j.n_new AS n_new,
       CASE WHEN j.n_old > 0
            THEN 1000 * j.n_new // j.n_old END AS growth_permille,
       CASE WHEN t.n_total > 0
            THEN 1000 * (j.n_old + j.n_new) * t.n_lists // t.n_total
       END AS occupancy_permille,
       CAST(j.n_old = 0
            OR (j.n_old > 0 AND 1000 * j.n_new // j.n_old > 1000)
            OR (t.n_total > 0 AND
                1000 * (j.n_old + j.n_new) * t.n_lists // t.n_total
                > 1250) AS BIGINT) AS recluster
FROM joined j CROSS JOIN tot t
ORDER BY j.cid
"""
    )
    return "".join(parts)


# --------------------------------------------------------------- x164


def x164_pq_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-subspace quantization distortion of the x72 PQ codebook
    (m=4 subspaces × 8 codes over dim 64) — total/mean/max exact
    int64 squared error between each sub-vector and its assigned
    code. The compression-health audit: a subspace whose mean error
    dwarfs the others needs more codes (or a rotation) before the ADC
    estimates it feeds (x72) can be trusted."""
    from m5_competition_kaggle_spark.operators.pq_eval import (
        pq_distortion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_distortion(emb, m=4, n_codes=8, dim=64).orderBy("s")


ORACLE_X164 = """
WITH qz AS MATERIALIZED (
    SELECT vec_id AS vid,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS v
    FROM embeddings
),
cents AS MATERIALIZED (
    SELECT vid AS cid, v AS cv FROM qz WHERE vid < 8
),
d AS MATERIALIZED (
    SELECT z.vid, t.s, c.cid,
           CAST(sum((z.v[t.s * 16 + u.i] - c.cv[t.s * 16 + u.i])
                    * (z.v[t.s * 16 + u.i] - c.cv[t.s * 16 + u.i]))
                AS BIGINT) AS d
    FROM qz z
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(s)
    CROSS JOIN cents c,
         unnest(generate_series(1, 16)) AS u(i)
    GROUP BY 1, 2, 3
),
best AS (
    SELECT vid, s, d FROM (
        SELECT vid, s, d,
               row_number() OVER (PARTITION BY vid, s
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM d
    ) WHERE rn = 1
)
SELECT CAST(s AS BIGINT) AS s,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(d) AS BIGINT) AS total_err,
       CAST(sum(d) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS mean_err,
       CAST(max(d) AS BIGINT) AS max_err
FROM best GROUP BY s ORDER BY s
"""


# --------------------------------------------------------------- x165


def x165_shard_packing_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-shard certificate on the x26 packing (chunks of 32 tokens
    stride 24, budget 4096, packed by the two-phase prefix scan): an
    item is assigned where its START offset falls, so overrun =
    max(total − budget, 0) is bounded STRICTLY below the shard's
    largest chunk — `ok` certifies that invariant shard-by-shard,
    directly downstream of this round's prefix.py rework."""
    from m5_competition_kaggle_spark.operators.curation import (
        chunk_documents,
    )
    from m5_competition_kaggle_spark.operators.prefix import (
        pack_into_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", 32, 24).select(
        "doc_id", "chunk_idx", "n_chunk_tokens"
    )
    packed = pack_into_shards(
        chunks, "n_chunk_tokens", ("doc_id", "chunk_idx"), 4096
    )
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias(
                "total_tokens"
            ),
            F.max("n_chunk_tokens").cast("long").alias("max_chunk"),
        )
        .select(
            "shard_id",
            "n_chunks",
            "total_tokens",
            "max_chunk",
            F.greatest(
                F.col("total_tokens") - F.lit(4096), F.lit(0)
            ).cast("long").alias("overrun"),
            F.expr(
                "CAST(greatest(total_tokens - 4096, 0) = 0 "
                "OR greatest(total_tokens - 4096, 0) < max_chunk "
                "AS BIGINT)"
            ).alias("ok"),
        )
        .orderBy("shard_id")
    )


ORACLE_X165 = """
WITH docs AS (SELECT doc_id,
                     str_split_regex(trim(text), '\\s+') AS toks
              FROM documents),
st AS (SELECT doc_id, toks,
              unnest(generate_series(0, len(toks) - 1, 24)) AS cs
       FROM docs),
ch AS (SELECT doc_id,
              CAST(cs // 24 AS BIGINT) AS chunk_idx,
              CAST(len(toks[cs + 1:cs + 32]) AS BIGINT)
                  AS n_chunk_tokens
       FROM st),
packed AS (
    SELECT doc_id, chunk_idx, n_chunk_tokens,
           CAST((sum(n_chunk_tokens) OVER (
                     ORDER BY doc_id, chunk_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)
                 - n_chunk_tokens) // 4096 AS BIGINT) AS shard_id
    FROM ch
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS total_tokens,
       CAST(max(n_chunk_tokens) AS BIGINT) AS max_chunk,
       greatest(CAST(sum(n_chunk_tokens) AS BIGINT) - 4096, 0)
           AS overrun,
       CAST(greatest(CAST(sum(n_chunk_tokens) AS BIGINT) - 4096, 0)
                = 0
            OR greatest(CAST(sum(n_chunk_tokens) AS BIGINT) - 4096,
                        0)
                < CAST(max(n_chunk_tokens) AS BIGINT)
            AS BIGINT) AS ok
FROM packed GROUP BY shard_id ORDER BY shard_id
"""


# --------------------------------------------------------------- x166


def x166_bm25_rerank_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end retrieval evaluation in one hash: BM25 top-20
    shortlist per query term (x63's construction at k=20) →
    pseudo-relevance rerank of the shortlist by exact quantized
    embedding dot against the lexical top-1 anchor doc → per term,
    RBO(p=9/10, d=10) between the lexical and semantic top-10
    (x150's exact integer weights) and graded nDCG@10 of the
    reranked list under lexical gains 11−bm25_rank (x131's literal
    discounts). High RBO + high nDCG ⇒ the semantic rerank preserves
    lexical relevance; low RBO + high nDCG ⇒ it reorders within the
    relevant set; low nDCG ⇒ it surfaces off-topic neighbors of the
    anchor. documents.doc_id ↔ embeddings.vec_id is the fixture's 1:1
    key; shortlist docs without an embedding would drop at the inner
    join (none exist here)."""
    from m5_competition_kaggle_spark.operators.ranking_eval import (
        ndcg_at_k,
    )
    from m5_competition_kaggle_spark.operators.rbo import rbo_prefix
    from m5_competition_kaggle_spark.operators.retrieval import (
        bm25_topk,
    )
    from m5_competition_kaggle_spark.operators.vector_kernel import (
        int_dot,
        quantize_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # The BM25 shortlist (<= n_terms*k = 100 rows) feeds FIVE subtrees
    # (anchor, rerank dots, both RBO/nDCG flanks, the term spine); an
    # eager checkpoint runs the corpus-wide BM25 pipeline ONCE
    # instead of once per consumer (guide §5 caching-when-reused; the
    # x154 demand-table convention). Bounded rows — driver-safe.
    # coalesce(1): constant-bounded table, one checkpoint block instead
    # of one per shuffle partition (r15 checkpoint-site audit).
    short = materialize(bm25_topk(
        docs, "doc_id", "text", n_terms=5, min_token_len=4, k=20
    ).select("term", "doc_id", "rank").coalesce(1))
    qe = emb.select(
        F.col("vec_id").alias("doc_id"),
        quantize_expr("embedding").alias("v"),
    )
    anchor = (
        short.filter(F.col("rank") == 1)
        .join(qe, "doc_id")
        .select("term", F.col("v").alias("av"))
    )
    dots = (
        short.join(qe, "doc_id")
        .join(F.broadcast(anchor), "term")
        .select(
            "term",
            "doc_id",
            int_dot("av", "v").alias("dot"),
        )
    )
    from pyspark.sql.window import Window

    w_rr = Window.partitionBy("term").orderBy(
        F.desc("dot"), F.asc("doc_id")
    )
    # rr (<= 10 rows/term) feeds both the RBO flank and the nDCG flank;
    # checkpointing it runs the shortlist x embeddings rerank once.
    # coalesce(1): constant-bounded (r15 checkpoint-site audit).
    rr = materialize(
        dots.withColumn(
            "rank", F.row_number().over(w_rr).cast("long")
        )
        .filter(F.col("rank") <= 10)
        .select("term", "doc_id", "rank")
        .coalesce(1)
    )
    bm10 = short.filter(F.col("rank") <= 10)
    rbo = rbo_prefix(bm10, rr, "term", "doc_id", "rank")
    ndcg = ndcg_at_k(
        rr.select(
            F.col("term").alias("query_id"),
            F.col("doc_id").alias("neighbor_id"),
            "rank",
        ),
        bm10.select(
            F.col("term").alias("query_id"),
            F.col("doc_id").alias("neighbor_id"),
            F.col("rank").alias("exact_rank"),
        ),
        10,
    ).select(
        F.col("query_id").alias("term"), "n_hit", "ndcg_ppm"
    )
    terms = bm10.select("term").distinct()
    return (
        terms.join(rbo, "term", "left")
        .join(ndcg, "term", "left")
        .select(
            "term",
            F.coalesce("n_matched", F.lit(0)).cast("long").alias(
                "n_matched"
            ),
            F.coalesce("rbo_ppm", F.lit(0)).cast("long").alias(
                "rbo_ppm"
            ),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias(
                "n_hit"
            ),
            "ndcg_ppm",
        )
        .orderBy("term")
    )


def _bm25_rerank_oracle() -> str:
    """Restates x63's BM25 (k=20), the anchor-dot rerank, x150's RBO
    weights and x131's nDCG literal ladder in one composition —
    constants derived from the same Python sources the Spark side
    uses (operators/rbo._W_NUM, operators/ranking_eval.discounts /
    ideal_dcg_ladder)."""
    from m5_competition_kaggle_spark.operators.ranking_eval import (
        discounts,
        ideal_dcg_ladder,
    )
    from m5_competition_kaggle_spark.operators.rbo import _W_NUM

    w_cases = " ".join(
        f"WHEN {m} THEN {num}" for m, num in _W_NUM.items()
    )
    d = discounts(10)
    ladder = ideal_dcg_ladder(10)
    dcg_terms = " + ".join(
        f"coalesce(p.g{i + 1}, 0) * CAST({d[i]!r} AS DOUBLE)"
        for i in range(10)
    )
    idcg_cases = " ".join(
        f"WHEN {m} THEN CAST({ladder[m - 1]!r} AS DOUBLE)"
        for m in range(1, 11)
    )
    g_pivot = ",\n           ".join(
        f"CAST(sum(CASE WHEN rrank = {i + 1} THEN g ELSE 0 END) "
        f"AS BIGINT) AS g{i + 1}"
        for i in range(10)
    )
    return f"""
WITH tok AS (SELECT doc_id,
                    unnest(str_split_regex(trim(text), '\\s+'))
                        AS token
             FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM dl),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
qt AS (SELECT token AS term, df FROM dfreq WHERE len(token) >= 4
       ORDER BY df DESC, token ASC LIMIT 5),
scored AS (
    SELECT qt.term, tf.doc_id,
           ln(1.0 + (s.n_docs - qt.df + 0.5) / (qt.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
             AS score
    FROM tf JOIN qt ON tf.token = qt.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats s),
rankedall AS (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term
                              ORDER BY score DESC, doc_id ASC)
               AS rank
    FROM scored),
short AS MATERIALIZED (
    SELECT term, doc_id, CAST(rank AS BIGINT) AS rank
    FROM rankedall WHERE rank <= 20),
bm10 AS MATERIALIZED (
    SELECT term, doc_id, rank FROM short WHERE rank <= 10),
qe AS MATERIALIZED (
    SELECT vec_id AS doc_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS v
    FROM embeddings),
anchor AS MATERIALIZED (
    SELECT s.term, e.v AS av
    FROM short s JOIN qe e USING (doc_id)
    WHERE s.rank = 1),
dots AS MATERIALIZED (
    SELECT s.term, s.doc_id,
           CAST(list_sum(list_transform(
               generate_series(1, len(e.v)),
               i -> a.av[i] * e.v[i])) AS BIGINT) AS dot
    FROM short s
    JOIN qe e USING (doc_id)
    JOIN anchor a ON a.term = s.term),
rr AS MATERIALIZED (
    SELECT term, doc_id, rank FROM (
        SELECT term, doc_id,
               CAST(row_number() OVER (PARTITION BY term
                                       ORDER BY dot DESC,
                                                doc_id ASC)
                    AS BIGINT) AS rank
        FROM dots
    ) WHERE rank <= 10),
matched AS (
    SELECT r.term, greatest(r.rank, b.rank) AS m
    FROM rr r JOIN bm10 b ON b.term = r.term
                          AND b.doc_id = r.doc_id),
rboq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS n_matched,
           CAST(sum(CASE m {w_cases} ELSE 0 END) AS BIGINT)
               AS rbo_num
    FROM matched GROUP BY term),
marked AS (
    SELECT r.term, r.rank AS rrank,
           CASE WHEN b.rank IS NOT NULL THEN 11 - b.rank
                ELSE 0 END AS g
    FROM rr r
    LEFT JOIN bm10 b ON b.term = r.term AND b.doc_id = r.doc_id),
perq AS (
    SELECT term,
           {g_pivot},
           CAST(sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
    FROM marked GROUP BY term),
nrel AS (
    SELECT term, CAST(count(*) AS BIGINT) AS n_rel
    FROM bm10 GROUP BY term),
terms AS (SELECT DISTINCT term FROM bm10),
assembled AS (
    SELECT t.term,
           coalesce(q.n_matched, 0) AS n_matched,
           coalesce(q.rbo_num, 0) // 25200000 AS rbo_ppm,
           coalesce(p.n_hit, 0) AS n_hit,
           {dcg_terms} AS dcg,
           coalesce(r.n_rel, 0) AS n_rel
    FROM terms t
    LEFT JOIN rboq q ON q.term = t.term
    LEFT JOIN perq p ON p.term = t.term
    LEFT JOIN nrel r ON r.term = t.term)
SELECT term, n_matched, rbo_ppm, n_hit,
       CASE WHEN n_rel > 0 THEN
           CAST(round(1e6 * dcg /
               (CASE n_rel {idcg_cases} END)) AS BIGINT)
       END AS ndcg_ppm
FROM assembled ORDER BY term
"""


# ---------------------------------------------------------- s23 / s24


def s23_stream_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of the streaming daily-volume changepoint monitor:
    tumbling-day (day, event_type) count cells through the x149
    max-CUSUM kernel — state bounded by |days| × |event types| BY
    CONSTRUCTION, the changepoint assembly exact on the cells."""
    from m5_competition_kaggle_spark.streaming.trend_monitor import (
        changepoint_from_cells,
        day_key_cells,
    )

    ev = load_table(spark, sf_dir, "events")
    return changepoint_from_cells(day_key_cells(ev)).orderBy("key")


ORACLE_S23 = """
WITH cells AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type AS key,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT key, day,
           CAST(row_number() OVER w AS BIGINT) AS i,
           CAST(sum(y) OVER (
               PARTITION BY key ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS S,
           CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
           CAST(sum(y) OVER (PARTITION BY key) AS BIGINT) AS Sn
    FROM cells
    WINDOW w AS (PARTITION BY key ORDER BY day)
),
splits AS (
    SELECT key, n, i AS cp_idx, day AS cp_t,
           n * S - i * Sn AS g,
           i * (n - i) AS den
    FROM cum WHERE i < n AND n >= 2
),
ranked AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY key
               ORDER BY CAST(g * g AS DOUBLE) / CAST(den AS DOUBLE)
                        DESC, cp_idx ASC
           ) AS r
    FROM splits
)
SELECT key, n, cp_idx, cp_t,
       abs(g) AS g_abs, den,
       CASE WHEN g < 0 THEN 'up' WHEN g > 0 THEN 'down'
            ELSE 'flat' END AS direction
FROM ranked WHERE r = 1
ORDER BY key
"""


def s24_stream_theil_sen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of the streaming daily-trend monitor: the same
    (day, event_type) cells through the x153 Theil–Sen kernel —
    slope_ppm is permille value units per day, robust against the
    corrupted days the monitor exists to catch."""
    from m5_competition_kaggle_spark.streaming.trend_monitor import (
        day_key_cells,
        theil_sen_from_cells,
    )

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_from_cells(day_key_cells(ev)).orderBy("key")


ORACLE_S24 = """
WITH cells AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type AS key,
           CAST(sum(CAST(round(value * 1000) AS BIGINT))
                AS BIGINT) AS y_sum
    FROM events GROUP BY 1, 2
),
series AS (
    SELECT key,
           CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
           y_sum AS y
    FROM cells
),
pairs AS (
    SELECT a.key, a.t AS ti, b.t AS tj,
           b.y - a.y AS dy, b.t - a.t AS dx
    FROM series a
    JOIN series b ON a.key = b.key AND a.t < b.t
),
ranked AS (
    SELECT key, dy, dx,
           row_number() OVER (
               PARTITION BY key
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
                        ti ASC, tj ASC
           ) AS r,
           CAST(count(*) OVER (PARTITION BY key) AS BIGINT)
               AS n_pairs
    FROM pairs
),
n_pts AS (
    SELECT key, CAST(count(*) AS BIGINT) AS n
    FROM series GROUP BY 1
)
SELECT p.key AS key, p.n AS n, r.n_pairs AS n_pairs,
       r.dy AS slope_num, r.dx AS slope_den,
       CASE WHEN r.dy >= 0 THEN 1000000 * r.dy // r.dx
            ELSE -((1000000 * (-r.dy)) // r.dx) END AS slope_ppm
FROM n_pts p
JOIN ranked r ON r.key = p.key
             AND r.r = (r.n_pairs + 1) // 2
ORDER BY p.key
"""


QUERIES = {
    "x162_lsh_band_power": x162_lsh_band_power,
    "x163_ivf_recluster": x163_ivf_recluster,
    "x164_pq_distortion": x164_pq_distortion,
    "x165_shard_packing_audit": x165_shard_packing_audit,
    "x166_bm25_rerank_eval": x166_bm25_rerank_eval,
    "s23_stream_changepoint": s23_stream_changepoint,
    "s24_stream_theil_sen": s24_stream_theil_sen,
}

ORACLES = {
    "x162_lsh_band_power": _lsh_power_oracle(),
    "x163_ivf_recluster": _ivf_recluster_oracle(16, 2),
    "x164_pq_distortion": ORACLE_X164,
    "x165_shard_packing_audit": ORACLE_X165,
    "x166_bm25_rerank_eval": _bm25_rerank_oracle(),
    "s23_stream_changepoint": ORACLE_S23,
    "s24_stream_theil_sen": ORACLE_S24,
}
