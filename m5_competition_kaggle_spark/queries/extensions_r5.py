"""Round-5 extension queries.

Scale-mode variants of certified operators plus the round's new
surface, all hash-certified against DuckDB twins:

- x47 ``lsh_topk(num_planes=None)`` — occupancy-scaled plane count
  (the fix for the r4 audit's one super-linear entry, x10 at fixed
  planes); the integer-exact sizing rule lets the oracle derive the
  same count from ``count(*)``.
- x48 ``bloom_contamination_stats(exact_audit=False)`` — Bloom probing
  by shingle h64 only, no exact string join (the r4-verdict flag; x46
  keeps the audited variant).
- x49 ``perceptron_step`` — one integer-exact training iteration of
  the quality classifier (shrinks x28's rows-only residue to L-BFGS
  convergence only).
- x50 ``cms_build``/``cms_estimate`` — Count-Min frequency sketch.
- x51 ``semantic_dedup`` — SemDeDup-style cluster-bounded near-dup
  (auto k = ⌊√N⌋: N^1.5 total work, never N²).
- x57 ``semantic_dedup_lsh`` — the strictly-linear variant: cells are
  occupancy-scaled LSH buckets, one map-side bucketing pass.
- x52 ``exact_quantiles``/``hist_quantiles`` — distributed exact
  quantiles + mergeable histogram sketch (twins x17's quantile half).
- x53 ``seeded_shuffle`` — deterministic global training order via
  the distributed prefix scan.
- x54 exact-K per-group sampling — "exactly K eval docs per domain"
  via one keyed window over h64 order.
- x55 audio time-segmentation — the third multimodal modality:
  Arrow-batched fake-codec decode + overlapping segment fan-out.
- x56 snapshot diff — dataset-versioning added/removed/changed by
  content hash via one full outer join.
- x58 triangle counts — degree-oriented wedge join over the near-dup
  pair graph (clique-vs-chain signal next to x24/x41).
- x59 fuzzy (edit-distance) self-join — rare-q-gram filter + exact
  Levenshtein verify: the record-linkage join class.
- x60 incremental dedup — a new batch vs the existing corpus (daily
  ingest shape; corpus side contributes precomputable signatures).
- x61 chunk-level dedup — cross-document copy-paste paragraphs via
  exact hash-groupBy over x19's sliding chunks.
- x62 per-doc OOV rate vs the corpus top-k vocabulary — tokenizer
  coverage scoring, integer permille.
- s9 ``streaming_cms_cells``'s batch twin — sketch maintenance as a
  bounded-state streaming agg.
- s10 windowed streaming CMS — one bounded sketch per event-time
  hour, watermarked; time-sliced frequency profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.curation import (
    BLOOM_K,
    BLOOM_M,
    bloom_contamination_stats,
)
from m5_competition_kaggle_spark.operators.similarity import (
    MAX_PLANES,
    TARGET_OCCUPANCY,
    hyperplanes,
    lsh_topk,
)
from m5_competition_kaggle_spark.queries.extensions import (
    H64,
    _minhash_verified_ctes,
    _shingle_cte,
)
from m5_competition_kaggle_spark.queries.llm_curation import DECON_SHINGLE
from m5_competition_kaggle_spark.sources.catalog import load_table


def x47_sim_topk_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with the occupancy-scaled plane count: num_planes is
    derived from the corpus row count (integer-exact rule in
    ``similarity.auto_num_planes``), holding expected bucket
    occupancy — and so per-query candidate work — constant as the
    corpus grows. Same query set and ranking as x10; only the sizing
    rule differs, and the oracle recomputes it from ``count(*)``."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = lsh_topk(
        emb,
        queries,
        k=10,
        num_planes=None,
        num_tables=8,
        dim=64,
    )
    return out.orderBy("query_id", "rank")


def x48_bloom_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production Bloom decontamination (``exact_audit=False``): per-doc
    shingle and Bloom-positive counts with NO exact string join — the
    corpus's shingle strings die in the projection that hashes them,
    and every exchange carries fixed-width ints. x46 stays the audited
    twin that also certifies the false-positive accounting."""
    docs = load_table(spark, sf_dir, "documents")
    return bloom_contamination_stats(
        docs, "doc_id", "text", (F.col("doc_id") % 97) == 0, DECON_SHINGLE,
        exact_audit=False,
    ).orderBy("doc_id")


def x49_fit_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One integer-exact perceptron training iteration of the quality
    classifier (``ml/quality.perceptron_step``): from the x44
    fixed weight vector, compute per-doc predictions, the per-bucket
    gradient against an integer weak label (n_chars ≥ 200), and the
    updated weights — all int64, reproduced bit-for-bit by the oracle.
    Shrinks x28's rows-only residue to just L-BFGS float convergence."""
    from m5_competition_kaggle_spark.ml.quality import perceptron_step

    docs = load_table(spark, sf_dir, "documents")
    label = (F.col("n_chars") >= 200).cast("int")
    return perceptron_step(docs, label).orderBy("bucket")


def _lsh_topk_auto_oracle(
    k: int,
    target_occupancy: int,
    max_planes: int,
    num_tables: int,
    dim: int,
    q_mod: int,
) -> str:
    """Twin of ``lsh_topk(num_planes=None)``: derives the plane count from count(*)
    with the same integer arithmetic (ceil-div then smallest p with
    2^p ≥ m, scanned over integer shifts — no float log2 on either
    engine), then replays x10's bucket/join/rank plan with every plane
    p gated on ``p < n_planes``. Plane literals are generated up to
    ``max_planes`` and are prefix-stable (plane p's weights don't
    depend on the total), so one literal table serves every count."""
    per_table = []
    for t in range(num_tables):
        planes = hyperplanes(max_planes, dim, table=t)
        bucket = " + ".join(
            "CASE WHEN {p} < n_planes AND "
            "list_sum(list_transform(generate_series(1, {d}), "
            "i -> v[i] * ([{w}])[i])) >= 0 THEN {bit} ELSE 0 END".format(
                p=p, d=dim, w=", ".join(str(x) for x in w), bit=1 << p
            )
            for p, w in enumerate(planes)
        )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, ({bucket}) AS bucket "
            "FROM qv, np"
        )
    bk = "\nUNION ALL\n".join(per_table)
    dot = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> a.v[i] * b.v[i])) AS BIGINT)"
    )
    occ = target_occupancy
    return f"""
WITH qv AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
np AS (SELECT least({max_planes}, greatest(1,
           (SELECT min(p) FROM range(0, 63) t(p)
            WHERE (CAST(1 AS BIGINT) << p) >=
                  (SELECT greatest(1, (count(*) + {occ - 1}) // {occ})
                   FROM embeddings)))) AS n_planes),
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


_BLOOM_FAST_ORACLE = rf"""
WITH docs AS (SELECT doc_id,
                     str_split_regex(trim(text), '\s+') AS toks
              FROM documents),
{_shingle_cte(DECON_SHINGLE)},
bench AS (SELECT DISTINCT {H64.format(s='shingle')} AS h
          FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
ii AS (SELECT unnest(range({BLOOM_K})) AS i),
bits AS (SELECT DISTINCT
                ((h % {1 << 30})
                 + i * ((h // {1 << 30}) * 2 + 1)) % {BLOOM_M} AS pos
         FROM bench CROSS JOIN ii),
hh AS (SELECT doc_id, {H64.format(s='shingle')} AS h FROM corp),
probes AS (SELECT doc_id, h,
                  ((h % {1 << 30})
                   + i * ((h // {1 << 30}) * 2 + 1)) % {BLOOM_M} AS pos
           FROM hh CROSS JOIN ii),
shflag AS (SELECT doc_id, h
           FROM probes JOIN bits USING (pos)
           GROUP BY doc_id, h
           HAVING count(*) = {BLOOM_K}),
bpd AS (SELECT doc_id, count(*) AS bloom_hits
        FROM shflag GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_shingles
        FROM corp GROUP BY doc_id)
SELECT t.doc_id, t.n_shingles,
       COALESCE(bpd.bloom_hits, 0) AS bloom_hits
FROM tot t LEFT JOIN bpd USING (doc_id)
ORDER BY t.doc_id
"""


def x50_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation (``operators/cms.py``):
    build the D×W sketch over the corpus token stream, then point-
    estimate every token whose exact count ≥ 50 and report the
    overcount — certifying sketch build AND estimate end to end, with
    the exact counts riding along for accuracy accounting (the x45/x46
    pattern). Sketch state is ≤ D·W cells regardless of corpus size."""
    from m5_competition_kaggle_spark.functions.text import tokens
    from m5_competition_kaggle_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    # each branch re-tokenizes from the pruned scan — measured CHEAPER
    # than persisting the exploded token stream (cache materialization
    # exceeds the re-scan cost, and at 100 TB caching a corpus-sized
    # token stream is the wrong trade vs a column-pruned parquet scan)
    toks = docs.select(
        F.explode(
            F.filter(tokens(F.lower(F.col("text"))), lambda t: t != F.lit(""))
        ).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_tf"))
    cand = exact.filter(F.col("exact_tf") >= 50)
    sketch = cms_build(toks, "token")
    est = cms_estimate(
        sketch, cand.select("token"), "token", out_col="est_tf"
    )
    return (
        cand.join(est, "token")
        .select(
            "token",
            "exact_tf",
            "est_tf",
            (F.col("est_tf") - F.col("exact_tf")).alias("overcount"),
        )
        .orderBy("token")
    )


# Twin of operators/cms.py: one h64 per token, double-hashed into D
# cells of width W; estimate = min over the D cells; sums CAST to
# BIGINT (DuckDB count/min stay BIGINT, but be explicit on est).
def _cms_oracle(d: int, w: int, min_tf: int) -> str:
    h = H64.format(s="token")
    pos = f"((h % {1 << 30}) + dd.d * ((h // {1 << 30}) * 2 + 1)) % {w}"
    return rf"""
WITH tok AS (SELECT unnest(str_split_regex(trim(lower(text)),
                                           '\s+')) AS t
             FROM documents),
tf AS (SELECT t AS token FROM tok WHERE t <> ''),
exact AS (SELECT token, count(*) AS exact_tf FROM tf GROUP BY token),
dd AS (SELECT unnest(range({d})) AS d),
hh AS (SELECT token, {h} AS h FROM tf),
cells AS (SELECT dd.d, {pos} AS pos, count(*) AS cnt
          FROM hh CROSS JOIN dd
          GROUP BY dd.d, pos),
cand AS (SELECT token, exact_tf, {h} AS h
         FROM exact WHERE exact_tf >= {min_tf}),
probes AS (SELECT cand.token, cand.exact_tf, dd.d, {pos} AS pos
           FROM cand CROSS JOIN dd),
est AS (SELECT token, exact_tf,
               CAST(min(COALESCE(cells.cnt, 0)) AS BIGINT) AS est_tf
        FROM probes LEFT JOIN cells USING (d, pos)
        GROUP BY token, exact_tf)
SELECT token, exact_tf, est_tf, est_tf - exact_tf AS overcount
FROM est ORDER BY token
"""


# Twin of ml/quality.perceptron_step over the x36 feature relation
# and the x44 weight rule; sums CAST to BIGINT (DuckDB sum → HUGEINT).
_FIT_STEP_ORACLE = rf"""
WITH tok AS (SELECT doc_id,
                    unnest(str_split_regex(trim(lower(text)),
                                           '\s+')) AS t
             FROM documents),
tfp AS (SELECT doc_id,
               CAST({H64.format(s='t')} % 4096 AS INT) AS bucket,
               count(*) AS tf
        FROM tok WHERE t <> ''
        GROUP BY doc_id, bucket),
wb AS (SELECT DISTINCT bucket,
              ({H64.format(s="CAST(bucket AS VARCHAR)")} % 2001) - 1000
                  AS w0
       FROM tfp),
lg AS (SELECT doc_id, CAST(sum(tf * w0) AS BIGINT) AS logit
       FROM tfp JOIN wb USING (bucket) GROUP BY doc_id),
errs AS (SELECT d.doc_id,
                CAST(COALESCE(l.logit, 0) >= 0 AS BIGINT)
                - CAST(d.n_chars >= 200 AS BIGINT) AS err
         FROM documents d LEFT JOIN lg l USING (doc_id)),
g AS (SELECT t.bucket, CAST(sum(e.err * t.tf) AS BIGINT) AS grad_units
      FROM tfp t JOIN errs e USING (doc_id) GROUP BY t.bucket)
SELECT g.bucket, w.w0 AS w0_units, g.grad_units,
       w.w0 - g.grad_units AS w1_units
FROM g JOIN wb w USING (bucket)
ORDER BY g.bucket
"""


def s9_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming CMS (``streaming/sketches.py``):
    the full D×W cell table over the events stream's user_id values.
    The identical ``cms_build`` aggregation runs unchanged as a
    no-watermark streaming agg — safe ONLY because the sketch bounds
    its own state at D·W cells (stream == batch proven in
    tests/test_streaming_sketches.py; this query certifies the cells
    against DuckDB)."""
    from m5_competition_kaggle_spark.operators.cms import cms_build

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(F.col("user_id").cast("string").alias("__item"))
    return cms_build(items, "__item").orderBy("d", "pos")


_STREAM_CMS_ORACLE = rf"""
WITH hh AS (SELECT {H64.format(s='CAST(user_id AS VARCHAR)')} AS h
            FROM events),
dd AS (SELECT unnest(range(4)) AS d),
cells AS (SELECT dd.d,
                 ((h % {1 << 30})
                  + dd.d * ((h // {1 << 30}) * 2 + 1)) % 1024 AS pos,
                 count(*) AS cnt
          FROM hh CROSS JOIN dd
          GROUP BY dd.d, pos)
SELECT d, pos, cnt FROM cells ORDER BY d, pos
"""


def x51_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (``operators/semantic_dedup.py``):
    deterministic centroid assignment bounds the near-dup comparison to
    intra-cluster pairs (keyed on cid — never all-pairs), then a
    canonical-keep rule drops every vector that a lower-id cluster-mate
    covers at quantized dot ≥ 350000 (≈ cosine 0.35 for ~unit vectors,
    matching x12's threshold). ``n_centroids=None`` auto-scales
    k = ⌊√N⌋ from one count() so total work grows N^1.5, not N² (the
    10× probe that caught fixed k=16 at ~10× wall-clock); the oracle
    derives the same k from count(*). One row per vector with the keep
    bit and the canonical id — all int64, oracle-replayed. x57 is the
    strictly-linear LSH-bucketed variant."""
    from m5_competition_kaggle_spark.operators.semantic_dedup import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, 350_000, n_centroids=None).orderBy("vec_id")


_SEMANTIC_DEDUP_ORACLE = """
WITH qv AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
kk AS (SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                              AS BIGINT)) AS k
       FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM qv, kk WHERE vec_id < k),
scored AS (SELECT q.vec_id, q.v, c.cid,
                  CAST(list_sum(list_transform(
                      generate_series(1, len(q.v)),
                      i -> q.v[i] * c.cv[i])) AS BIGINT) AS cdot
           FROM qv q CROSS JOIN cent c),
assigned AS (SELECT vec_id, v, cid
             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                ORDER BY cdot DESC, cid) AS rn
                   FROM scored)
             WHERE rn = 1),
kills AS (SELECT hi.cid, hi.vec_id AS hi_id,
                 min(lo.vec_id) AS canonical_id
          FROM assigned hi
          JOIN assigned lo
            ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
          WHERE CAST(list_sum(list_transform(
                    generate_series(1, len(hi.v)),
                    i -> hi.v[i] * lo.v[i])) AS BIGINT) >= 350000
          GROUP BY hi.cid, hi.vec_id)
SELECT a.vec_id, a.cid,
       CAST(k.canonical_id IS NULL AS INT) AS keep,
       COALESCE(k.canonical_id, a.vec_id) AS canonical_id
FROM assigned a
LEFT JOIN kills k ON a.cid = k.cid AND a.vec_id = k.hi_id
ORDER BY a.vec_id
"""


def x57_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strictly-linear semantic dedup: cells are occupancy-scaled
    single-table hyperplane buckets (x47's integer-exact plane-count
    rule) instead of x51's centroid clusters — bucketing is one
    map-side pass (no N·k assignment dots) and cell occupancy stays in
    a constant band, so intra-cell pair work grows ~N·occupancy. Same
    canonical-keep rule and output schema (cid = bucket id)."""
    from m5_competition_kaggle_spark.operators.semantic_dedup import (
        semantic_dedup_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_lsh(
        emb, 350_000, num_planes=None, dim=64,
    ).orderBy("vec_id")


def _semantic_dedup_lsh_oracle(
    threshold_dot: int, target_occupancy: int, max_planes: int, dim: int
) -> str:
    """Twin of ``semantic_dedup_lsh``: x47's count-derived gated plane
    count (single table 0, prefix-stable literals) builds the bucket
    partition, then x51's keep rule runs within buckets."""
    planes = hyperplanes(max_planes, dim)
    bucket = " + ".join(
        "CASE WHEN {p} < n_planes AND "
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> v[i] * ([{w}])[i])) >= 0 THEN {bit} ELSE 0 END".format(
            p=p, d=dim, w=", ".join(str(x) for x in w), bit=1 << p
        )
        for p, w in enumerate(planes)
    )
    dot = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> hi.v[i] * lo.v[i])) AS BIGINT)"
    )
    occ = target_occupancy
    return f"""
WITH qv AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
np AS (SELECT least({max_planes}, greatest(1,
           (SELECT min(p) FROM range(0, 63) t(p)
            WHERE (CAST(1 AS BIGINT) << p) >=
                  (SELECT greatest(1, (count(*) + {occ - 1}) // {occ})
                   FROM embeddings)))) AS n_planes),
bk AS (SELECT vec_id, v, ({bucket}) AS cid FROM qv, np),
kills AS (SELECT hi.vec_id AS hi_id, min(lo.vec_id) AS canonical_id
          FROM bk hi JOIN bk lo
            ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
          WHERE {dot} >= {threshold_dot}
          GROUP BY hi.vec_id)
SELECT b.vec_id, b.cid,
       CAST(k.canonical_id IS NULL AS INT) AS keep,
       COALESCE(k.canonical_id, b.vec_id) AS canonical_id
FROM bk b LEFT JOIN kills k ON b.vec_id = k.hi_id
ORDER BY b.vec_id
"""


def x58_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the MinHash near-dup pair
    graph (``operators/graph_metrics.py``): the local-density signal
    that distinguishes tight duplicate cliques (safe to collapse to
    one canonical) from triangle-free chains (possible transitive
    false positives). Degree-oriented wedge join — O(E^1.5) wedge
    work on any graph, every join keyed. Completes the graph toolbox
    next to x24 (components) and x41 (PageRank) on the same edges."""
    from m5_competition_kaggle_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from m5_competition_kaggle_spark.operators.graph_metrics import (
        triangle_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b")
    return (
        triangle_counts(pairs)
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy("doc_id")
    )


_TRIANGLES_ORACLE = f"""
WITH {_minhash_verified_ctes(16, 4)},
vpairs AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
e AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM vpairs WHERE id_a <> id_b),
deg AS (SELECT n, count(*) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
o AS (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM e JOIN deg d1 ON d1.n = e.u JOIN deg d2 ON d2.n = e.v),
wed AS (SELECT w1.src, w1.dst AS x, w2.dst AS y
        FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst),
tris AS (SELECT src, x, y
         FROM wed JOIN e ON x = e.u AND y = e.v)
SELECT node AS doc_id, count(*) AS n_triangles
FROM (SELECT src AS node FROM tris
      UNION ALL SELECT x FROM tris
      UNION ALL SELECT y FROM tris)
GROUP BY node ORDER BY doc_id
"""


def x59_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join (``operators/fuzzy.py``) over 24-char
    document prefixes — the record-linkage join class: rare-q-gram
    candidate filter (df-pruned, deterministic) + exact Levenshtein
    verify ≤ 4. Both engines implement classic Levenshtein, so the
    whole filter-and-verify pipeline hash-certifies."""
    from m5_competition_kaggle_spark.operators.fuzzy import fuzzy_self_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("title")
    )
    return fuzzy_self_join(
        docs, "doc_id", "title", max_dist=4, q=3, max_df=100
    ).orderBy("id_a", "id_b")


_FUZZY_JOIN_ORACLE = """
WITH k AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents),
g AS (SELECT DISTINCT doc_id, s,
             unnest(list_transform(range(1, len(s) - 1),
                                   i -> substr(s, i, 3))) AS gram
      FROM k WHERE len(s) >= 3),
rare AS (SELECT gram
         FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
         WHERE df <= 100),
p AS (SELECT g.doc_id, g.s, g.gram FROM g JOIN rare USING (gram)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.s AS sa, b.s AS sb
         FROM p a JOIN p b
           ON a.gram = b.gram AND a.doc_id < b.doc_id)
SELECT id_a, id_b, levenshtein(sa, sb) AS dist
FROM cand WHERE levenshtein(sa, sb) <= 4
ORDER BY id_a, id_b
"""


def x60_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection
    (``operators/dedup_incremental.py``): the new batch (doc_id % 5 ==
    0) checked against the existing corpus (the rest) and against
    earlier batch members — the daily-ingest dedup shape where corpus
    signatures are precomputed. Per new doc: keep/drop bit, the
    smallest matching id, and which side it came from. The oracle
    derives its truth from the FULL self-join's verified pair CTE
    restricted to (new × corpus ∪ new × earlier-new), which the
    side-independent signatures make exactly equivalent."""
    from m5_competition_kaggle_spark.operators.dedup_incremental import (
        incremental_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return incremental_near_dups(
        new, corpus, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).orderBy("doc_id")


_INCREMENTAL_DEDUP_ORACLE = f"""
WITH {_minhash_verified_ctes(16, 4)},
vp AS (SELECT id_a, id_b FROM vstats WHERE jaccard >= 0.8),
und AS (SELECT id_a AS n, id_b AS m FROM vp
        UNION ALL SELECT id_b AS n, id_a AS m FROM vp),
m0 AS (SELECT n, min(m) AS matched_id
       FROM und
       WHERE n % 5 = 0 AND (m % 5 <> 0 OR m < n)
       GROUP BY n)
SELECT d.doc_id,
       CAST(m0.matched_id IS NOT NULL AS INT) AS is_dup,
       m0.matched_id,
       CASE WHEN m0.matched_id IS NULL THEN 'none'
            WHEN m0.matched_id % 5 <> 0 THEN 'corpus'
            ELSE 'batch' END AS match_type
FROM documents d LEFT JOIN m0 ON d.doc_id = m0.n
WHERE d.doc_id % 5 = 0
ORDER BY d.doc_id
"""


# chunking params mirror x19 (llm_curation.CHUNK_SIZE/STRIDE = 32/24;
# literals keep this module's closure off llm_curation.py until r6)
_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


def x61_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup (the C4 move, at chunk level):
    slide x19's token chunks over every document, then group by
    chunk_hash — chunks appearing more than once anywhere in the
    corpus are copy-paste paragraphs; the canonical occurrence is the
    (min doc, min idx) one and the rest are droppable. Exact
    hash-groupBy like x1, but at sub-document granularity."""
    from m5_competition_kaggle_spark.operators.curation import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", _CHUNK_SIZE, _CHUNK_STRIDE
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            # canonical = lexicographic (doc, idx) min via a packed
            # integer key — portable where struct-min field access
            # isn't; chunk_idx < 2^20 for any document under ~25M
            # tokens at stride 24
            F.min(
                F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx")
            ).alias("__ck"),
        )
        .withColumns(
            {
                "canonical_doc": F.expr("__ck div 1048576"),
                "canonical_idx": F.expr("__ck % 1048576"),
            }
        )
        .drop("__ck")
        .filter(F.col("n_occurrences") > 1)
        .orderBy("chunk_hash")
    )


_CHUNK_DEDUP_ORACLE = rf"""
WITH docs AS (SELECT doc_id,
                     str_split_regex(trim(text), '\s+') AS toks
              FROM documents),
st AS (SELECT doc_id, toks,
              unnest(generate_series(0, len(toks) - 1,
                                     {_CHUNK_STRIDE})) AS cs
       FROM docs),
ch AS (SELECT doc_id,
              CAST(cs // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
              {H64.format(
                  s=f"array_to_string(toks[cs+1:cs+{_CHUNK_SIZE}], ' ')")}
                  AS chunk_hash
       FROM st)
SELECT chunk_hash,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id * 1048576 + chunk_idx) // 1048576 AS canonical_doc,
       min(doc_id * 1048576 + chunk_idx) % 1048576 AS canonical_idx
FROM ch GROUP BY chunk_hash
HAVING count(*) > 1
ORDER BY chunk_hash
"""


def s10_windowed_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the WINDOWED streaming CMS
    (``streaming/sketches.windowed_cms_cells``): one bounded D×W
    sketch per event-time hour — the time-sliced frequency profile.
    The identical expression runs as a watermarked streaming agg
    (tests/test_streaming_sketches.py proves stream == batch)."""
    from m5_competition_kaggle_spark.streaming.sketches import (
        windowed_cms_cells,
    )

    ev = load_table(spark, sf_dir, "events")
    return windowed_cms_cells(ev, "user_id", "1 hour").orderBy(
        "window_start", "d", "pos"
    )


_WINDOWED_CMS_ORACLE = rf"""
WITH hh AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                AS window_start,
            {H64.format(s='CAST(user_id AS VARCHAR)')} AS h
            FROM events),
dd AS (SELECT unnest(range(4)) AS d),
cells AS (SELECT window_start, dd.d,
                 ((h % {1 << 30})
                  + dd.d * ((h // {1 << 30}) * 2 + 1)) % 1024 AS pos,
                 count(*) AS cnt
          FROM hh CROSS JOIN dd
          GROUP BY window_start, dd.d, pos)
SELECT window_start, d, pos, cnt
FROM cells ORDER BY window_start, d, pos
"""


def x62_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage scoring: per-document out-of-vocabulary rate
    against the corpus's own top-16 vocabulary (the x30 deterministic
    (tf DESC, token) cut). The metric tokenizer training iterates on —
    high OOV docs are either junk or underrepresented domains. Vocab
    is bounded (broadcast); OOV permille is integer floor-div."""
    from m5_competition_kaggle_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.lower(F.col("text"))), lambda t: t != F.lit(""))
        ).alias("t"),
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("t"))
        .limit(16)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    per = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(
                F.when(F.col("__in_vocab").isNull(), 1)
            ).alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr("n_oov * 1000 div n_tokens").alias("oov_permille"),
    ).orderBy("doc_id")


_OOV_RATE_ORACLE = r"""
WITH tok AS (SELECT doc_id, t
             FROM (SELECT doc_id,
                          unnest(str_split_regex(trim(lower(text)),
                                                 '\s+')) AS t
                   FROM documents)
             WHERE t <> ''),
vocab AS (SELECT t
          FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
          ORDER BY c DESC, t LIMIT 16),
per AS (SELECT tok.doc_id, count(*) AS n_tokens,
               count(*) FILTER (WHERE v.t IS NULL) AS n_oov
        FROM tok LEFT JOIN vocab v USING (t)
        GROUP BY tok.doc_id)
SELECT doc_id, n_tokens, n_oov,
       n_oov * 1000 // n_tokens AS oov_permille
FROM per ORDER BY doc_id
"""


def x52_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantiles over events.value
    (``operators/quantiles.py``): exact rank-based values via the
    two-phase distributed prefix scan, next to the mergeable
    histogram-sketch estimate — the certified twin for the quantile
    half of x17's approx_percentile (x45 twins its HLL half). The
    sketch's a-priori bound shows in the output: err_units ∈
    [0, bin_width)."""
    from m5_competition_kaggle_spark.operators.quantiles import (
        DEFAULT_BIN_UNITS,
        quantile_error_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    # r14: one-pass form — the composed exact_quantiles ⋈ hist_quantiles
    # plan scanned events 4x and ran two prefix scans; N, the exact rank
    # lookup and the bin cumulative all fold out of ONE per-value scan
    # (equivalence argument + property test in operators/quantiles.py).
    return quantile_error_profile(
        ev, "value", bin_units=DEFAULT_BIN_UNITS
    ).orderBy("permille")


_HIST_QUANTILES_ORACLE = """
WITH v AS (SELECT CAST(floor(value * 1000000) AS BIGINT) AS v
           FROM events),
n AS (SELECT count(*) AS n FROM v),
qs AS (SELECT unnest([250, 500, 750, 900, 990]) AS permille),
ranks AS (SELECT permille,
                 (permille * n + 999) // 1000 AS r
          FROM qs CROSS JOIN n),
counts AS (SELECT v, count(*) AS c FROM v GROUP BY v),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM counts),
exact AS (SELECT permille, min(v) AS exact_units
          FROM ranks JOIN cum ON cum.cum >= ranks.r
          GROUP BY permille),
bins AS (SELECT v // 100000 AS bin, count(*) AS c FROM v GROUP BY bin),
bcum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM bins),
est AS (SELECT permille, min(bin) * 100000 AS est_units
        FROM ranks JOIN bcum ON bcum.cum >= ranks.r
        GROUP BY permille)
SELECT x.permille, x.exact_units, e.est_units,
       x.exact_units - e.est_units AS err_units
FROM exact x JOIN est e USING (permille)
ORDER BY x.permille
"""


def x53_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle (``operators/shuffle.py``):
    every document's 1-based position in the seed-42 pseudo-random
    order, assigned via the distributed prefix scan (no global
    single-partition sort). The permutation is reproducible across
    engines — the oracle replays it with row_number() over the same
    h64 order."""
    from m5_competition_kaggle_spark.operators.shuffle import seeded_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return seeded_shuffle(docs, "doc_id", seed=42).orderBy("doc_id")


_SEEDED_SHUFFLE_ORACLE = rf"""
WITH h AS (SELECT doc_id,
                  {H64.format(s="'42:' || CAST(doc_id AS VARCHAR)")} AS hk
           FROM documents)
SELECT doc_id,
       row_number() OVER (ORDER BY hk, doc_id) AS shuffle_pos
FROM h ORDER BY doc_id
"""


def x54_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K deterministic sampling per group: the K=5 documents per
    source with the smallest h64(seed:doc_id) — "give me exactly K
    eval docs per domain", a guarantee the permille-based samplers
    (x21 stratified, x27 importance) deliberately don't make. One
    keyed window (partitioned by source — scales with executors);
    reproducible and engine-independent like x53's shuffle."""
    from m5_competition_kaggle_spark.functions.text import h64

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("__hk", "doc_id")
    return (
        docs.select(
            "source",
            "doc_id",
            h64(
                F.concat(F.lit("11:"), F.col("doc_id").cast("string"))
            ).alias("__hk"),
        )
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 5)
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    )


_EXACT_K_SAMPLE_ORACLE = rf"""
WITH h AS (SELECT source, doc_id,
                  {H64.format(s="'11:' || CAST(doc_id AS VARCHAR)")} AS hk
           FROM documents),
r AS (SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY hk, doc_id) AS sample_rank
      FROM h)
SELECT source, doc_id, sample_rank
FROM r WHERE sample_rank <= 5
ORDER BY source, sample_rank
"""


def x55_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio time-segmentation plumbing (``multimodal/audio.py``):
    opaque blob → Arrow-batched fake-codec decode (sample rate,
    duration) → overlapping 1000 ms / 600 ms-hop segment fan-out. The
    third multimodal modality next to x11 (image meta) and x42 (video
    frames); all integer arithmetic, oracle-replayed."""
    from m5_competition_kaggle_spark.multimodal.audio import (
        audio_meta,
        segment_audio,
    )
    from m5_competition_kaggle_spark.multimodal.ops import to_binary_assets

    docs = load_table(spark, sf_dir, "documents")
    meta = audio_meta(to_binary_assets(docs, "doc_id", "text"))
    return (
        segment_audio(meta, seg_ms=1000, hop_ms=600)
        .select(
            "doc_id", "sample_rate", "duration_ms", "seg_idx",
            "start_ms", "end_ms",
        )
        .orderBy("doc_id", "seg_idx")
    )


_AUDIO_SEGMENTS_ORACLE = """
WITH m AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents),
m2 AS (SELECT doc_id,
              CAST(CASE n_bytes % 3 WHEN 0 THEN 8000
                   WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT)
                  AS sample_rate,
              n_bytes * 64 AS n_samples
       FROM m),
m3 AS (SELECT doc_id, sample_rate,
              (n_samples * 1000) // sample_rate AS duration_ms
       FROM m2),
seg AS (SELECT doc_id, sample_rate, duration_ms,
               unnest(range(0, duration_ms, 600)) AS start_ms
        FROM m3 WHERE duration_ms > 0)
SELECT doc_id, sample_rate, duration_ms,
       start_ms // 600 AS seg_idx, start_ms,
       least(start_ms + 1000, duration_ms) AS end_ms
FROM seg ORDER BY doc_id, seg_idx
"""


def x56_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff: compare two corpus snapshots by key and
    content hash and classify every key as added / removed / changed /
    unchanged, with per-class counts and id ranges. Snapshots here are
    deterministic slices of ``documents`` (old = doc_id % 10 != 0, new
    = doc_id % 7 != 0 with text 'changed' when doc_id % 13 == 0 —
    simulated edits); production passes two real snapshot frames. One
    full outer join on the key + md5 compare — keyed, shuffle-minimal,
    and the per-class agg output is tiny at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5("text").alias("old_hash")
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text"))
        ).alias("new_hash"),
    )
    classified = old.join(new, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return (
        classified.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("status")
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (SELECT doc_id, md5(text) AS old_hash
             FROM documents WHERE doc_id % 10 <> 0),
new AS (SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                        ELSE text END) AS new_hash
        FROM documents WHERE doc_id % 7 <> 0),
c AS (SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
             CASE WHEN old_hash IS NULL THEN 'added'
                  WHEN new_hash IS NULL THEN 'removed'
                  WHEN old_hash <> new_hash THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old FULL OUTER JOIN new USING (doc_id))
SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM c GROUP BY status ORDER BY status
"""


QUERIES = {
    "x47_sim_topk_lsh_auto": x47_sim_topk_lsh_auto,
    "x48_bloom_fast": x48_bloom_fast,
    "x49_fit_step": x49_fit_step,
    "x50_cms_freq": x50_cms_freq,
    "x51_semantic_dedup": x51_semantic_dedup,
    "s9_stream_cms": s9_stream_cms,
    "x52_hist_quantiles": x52_hist_quantiles,
    "x53_seeded_shuffle": x53_seeded_shuffle,
    "x54_exact_k_sample": x54_exact_k_sample,
    "x55_audio_segments": x55_audio_segments,
    "x56_snapshot_diff": x56_snapshot_diff,
    "x57_semantic_dedup_lsh": x57_semantic_dedup_lsh,
    "x58_triangle_counts": x58_triangle_counts,
    "x59_fuzzy_join": x59_fuzzy_join,
    "x60_incremental_dedup": x60_incremental_dedup,
    "x61_chunk_dedup": x61_chunk_dedup,
    "x62_oov_rate": x62_oov_rate,
    "s10_windowed_cms": s10_windowed_cms,
}

ORACLES = {
    "x47_sim_topk_lsh_auto": _lsh_topk_auto_oracle(
        10, TARGET_OCCUPANCY, MAX_PLANES, 8, 64, 50
    ),
    "x48_bloom_fast": _BLOOM_FAST_ORACLE,
    "x49_fit_step": _FIT_STEP_ORACLE,
    "x50_cms_freq": _cms_oracle(4, 1024, 50),
    "x51_semantic_dedup": _SEMANTIC_DEDUP_ORACLE,
    "s9_stream_cms": _STREAM_CMS_ORACLE,
    "x52_hist_quantiles": _HIST_QUANTILES_ORACLE,
    "x53_seeded_shuffle": _SEEDED_SHUFFLE_ORACLE,
    "x54_exact_k_sample": _EXACT_K_SAMPLE_ORACLE,
    "x55_audio_segments": _AUDIO_SEGMENTS_ORACLE,
    "x56_snapshot_diff": _SNAPSHOT_DIFF_ORACLE,
    "x57_semantic_dedup_lsh": _semantic_dedup_lsh_oracle(
        350_000, TARGET_OCCUPANCY, MAX_PLANES, 64
    ),
    "x58_triangle_counts": _TRIANGLES_ORACLE,
    "x59_fuzzy_join": _FUZZY_JOIN_ORACLE,
    "x60_incremental_dedup": _INCREMENTAL_DEDUP_ORACLE,
    "x61_chunk_dedup": _CHUNK_DEDUP_ORACLE,
    "x62_oov_rate": _OOV_RATE_ORACLE,
    "s10_windowed_cms": _WINDOWED_CMS_ORACLE,
}
