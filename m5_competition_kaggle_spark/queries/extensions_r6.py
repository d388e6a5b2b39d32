"""Round-6 extension queries (registered late in round 5), each
hash-certified against a DuckDB twin.

- x63 ``bm25_topk`` — lexical ranked retrieval (the query->documents
  scorer next to the embedding ANN stack); query workload derived
  deterministically from the corpus (top-df terms).
- x64 ``jaccard_prefix_join`` — EXACT set-similarity self-join via
  prefix filtering (AllPairs/PPJoin): the lossless complement to
  MinHash LSH's probabilistic recall, all-integer thresholding.
- x65 ``kcore_peel`` — fixed-round k-core peeling over the MinHash
  near-dup pair graph (dense-community vs noise-fringe signal next to
  x24 components / x41 PageRank / x58 triangles on the same edges).
- x66 source-level n-gram Jaccard similarity matrix — corpus-vs-corpus
  overlap profiling (crawl-snapshot redundancy, source provenance).
- g19 GROUPING SETS with grouping_id — the explicit grouping-sets
  path (g4 ROLLUP / g9 CUBE cover the sugared forms).
- x67 bucket-expanded interval join — the range-join class without
  nested loops.
- s11 online streaming near-dup probe (batch twin; the live path is
  ``streaming/neardup.py``).
- x68 salted two-phase aggregate certified bit-exact vs plain GROUP BY.
- x69 HLL-sketch source-overlap matrix — x66's 100 TB twin via the
  register-max union monoid + inclusion-exclusion, error-accounted
  against the exact flank.
- x70 CMS heavy hitters — sketch-filter-then-verify, certified
  no-false-negative.
- s12 streaming interval join — live points vs static windows with
  zero join state (``operators/interval.py``'s pre-expanded probe).
- x71 entity-resolution composition — fuzzy pairs -> components ->
  canonical election, certified as one pipeline.
- x72 product-quantization ANN with exact rerank — the compression
  member completing the ANN quartet (``operators/similarity_pq.py``).
- s13 online ANN probe — foreachBatch replay of the ADC plan
  (``streaming/ann.py``), the third streaming integration style.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize
from m5_competition_kaggle_spark.operators.dedup import doc_shingles
from m5_competition_kaggle_spark.operators.graph_metrics import kcore_peel
from m5_competition_kaggle_spark.operators.retrieval import bm25_topk
from m5_competition_kaggle_spark.operators.setsim import (
    jaccard_prefix_join,
)
from m5_competition_kaggle_spark.queries.extensions import (
    _minhash_verified_ctes,
    _shingle_cte,
)
from m5_competition_kaggle_spark.sources.catalog import load_table

# ----------------------------------------------------------------- queries


def x63_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the 5 highest-df query terms
    (``operators/retrieval.py``): tf/dl are keyed aggregates, the
    5-term query table (with idf) and the 1-row corpus stats are
    broadcast, so postings prune at the join and nothing shuffles on
    token; ranking is one window keyed by term."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", n_terms=5, min_token_len=4, k=10
    ).orderBy("term", "rank")


def x64_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.9 self-join via prefix filtering
    (``operators/setsim.py``): rarest-first global element order,
    per-set prefix keys, length filter, exact verify — provably the
    same pairs as the brute-force oracle, without the all-pairs join.
    All-integer threshold arithmetic (9/10), so the hash certifies
    losslessness. Elements are 3-token shingles, not word tokens: the
    synthetic corpus draws from a tiny vocabulary, so word-token SETS
    collapse into duplicate groups (at sf0.1 one group holds 248 docs
    — 965k qualifying pairs, and that output IS the answer, no filter
    can prune it); shingle sets keep the element space |vocab|^3 so
    only genuine near-dups qualify (~250 pairs at sf0.1, measured)."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_join(
        docs, "doc_id", "text", threshold_p=9, threshold_q=10,
        shingle_size=3,
    ).orderBy("id_a", "id_b")


def x65_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round 2-core peel of the MinHash near-dup pair graph
    (``operators/graph_metrics.py::kcore_peel``): survivors sit on
    cycles of corroborating pair evidence; degree-1 leaves (single
    uncorroborated LSH hits) peel away. Per round: one keyed degree
    aggregate + two semi-joins, localCheckpoint between rounds — the
    same bounded-iteration shape as x41's PageRank."""
    from m5_competition_kaggle_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4,
        shingle_size=3, threshold=0.8,
    ).select("id_a", "id_b")
    return (
        kcore_peel(pairs, k=2, rounds=4)
        .select(F.col("node").alias("doc_id"), "deg")
        .orderBy("doc_id")
    )


def x66_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus overlap: pairwise 3-token-shingle Jaccard
    between all sources — the crawl-snapshot-redundancy profile that
    decides which source pairs need cross-source dedup at all. Distinct
    (source, shingle) is one keyed aggregate; the pair matrix is a
    shingle-keyed self-join aggregated to source pairs (bounded output:
    sources² rows). Integer permille, exact. At 100 TB the join skew knob is the
    operator's ``max_df`` cap on ubiquitous shingles (they contribute
    C(g,2) join rows each and little signal); the certified query keeps
    ``max_df=None`` so the oracle certifies the exact measure."""
    from m5_competition_kaggle_spark.operators.setsim import (
        source_jaccard_matrix,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_jaccard_matrix(
        docs, "source", "doc_id", "text", shingle_size=3, max_df=None
    ).orderBy("source_a", "source_b")


def g19_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), ()) with
    grouping_id — the general grouping-sets path underneath g4's ROLLUP
    and g9's CUBE sugar; one Expand + one hash aggregate, map-side
    partials intact."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
            "gid",
        )
    )


QUERIES = {
    "x63_bm25_topk": x63_bm25_topk,
    "x64_setsim_join": x64_setsim_join,
    "x65_kcore": x65_kcore,
    "x66_source_jaccard": x66_source_jaccard,
    "g19_grouping_sets": g19_grouping_sets,
}

# ----------------------------------------------------------------- oracles

_TOK = r"str_split_regex(trim(text), '\s+')"

_BM25_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
q AS (SELECT token AS term, df FROM dfreq WHERE len(token) >= 4
      ORDER BY df DESC, token ASC LIMIT 5),
scored AS (
    SELECT q.term, tf.doc_id, tf.tf,
           ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
             AS score
    FROM tf JOIN q ON tf.token = q.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats s),
ranked AS (
    SELECT term, doc_id, tf, score,
           row_number() OVER (PARTITION BY term
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored)
SELECT term, doc_id, tf, score, rank
FROM ranked WHERE rank <= 10 ORDER BY term, rank
"""

_SETSIM_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOK} AS toks FROM documents),
{_shingle_cte(3)},
tok AS (SELECT doc_id, shingle AS token FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS inter_cnt
          FROM tok a JOIN tok b
            ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b, inter_cnt,
       sa.n + sb.n - inter_cnt AS union_cnt,
       CAST(floor(1000 * inter_cnt / (sa.n + sb.n - inter_cnt))
            AS BIGINT) AS jacc_permille
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE 10 * inter_cnt >= 9 * (sa.n + sb.n - inter_cnt)
ORDER BY id_a, id_b
"""


def _kcore_oracle(k: int, rounds: int) -> str:
    # Every round reads the previous round's edge CTE three times
    # (twice for degrees, once for the filter); inlined CTEs would
    # re-evaluate the whole MinHash chain 3^rounds times, so the
    # per-round CTEs are MATERIALIZED (measured: >580 s inlined vs
    # 0.5 s materialized at sf0.001).
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u,"
        " greatest(id_a, id_b) AS v FROM vstats"
        " WHERE jaccard >= 0.8 AND id_a <> id_b)"
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT n, count(*) AS d FROM"
            f" (SELECT u AS n FROM e{p} UNION ALL SELECT v FROM e{p})"
            " GROUP BY n)"
        )
        ctes.append(
            f"k{r} AS (SELECT n FROM d{r} WHERE d >= {k})"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT e{p}.u, e{p}.v FROM e{p}"
            f" JOIN k{r} a ON e{p}.u = a.n"
            f" JOIN k{r} b ON e{p}.v = b.n)"
        )
    return (
        f"WITH {_minhash_verified_ctes(16, 4)},\n"
        + ",\n".join(ctes)
        + f"""
SELECT node AS doc_id, count(*) AS deg
FROM (SELECT u AS node FROM e{rounds}
      UNION ALL SELECT v FROM e{rounds})
GROUP BY node ORDER BY doc_id
"""
    )


_SOURCE_JACCARD_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOK} AS toks FROM documents),
{_shingle_cte(3)},
ssh AS (SELECT DISTINCT d.source, sh.shingle
        FROM sh JOIN documents d USING (doc_id)),
sz AS (SELECT source, count(*) AS n FROM ssh GROUP BY source),
inter AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS inter_cnt
          FROM ssh a JOIN ssh b
            ON a.shingle = b.shingle AND a.source < b.source
          GROUP BY 1, 2)
SELECT source_a, source_b, inter_cnt,
       sa.n + sb.n - inter_cnt AS union_cnt,
       CAST(floor(1000 * inter_cnt / (sa.n + sb.n - inter_cnt))
            AS BIGINT) AS jacc_permille
FROM inter
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
ORDER BY source_a, source_b
"""

_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_price,
       count(*) AS n_rows,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
            AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), ())
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, gid
"""

ORACLES = {
    "x63_bm25_topk": _BM25_ORACLE,
    "x64_setsim_join": _SETSIM_ORACLE,
    "x65_kcore": _kcore_oracle(2, 4),
    "x66_source_jaccard": _SOURCE_JACCARD_ORACLE,
    "g19_grouping_sets": _GROUPING_SETS_ORACLE,
}


def x67_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident-window enrichment via the bucket-expanded interval join
    (``operators/interval.py``): every error event opens a 30-minute
    incident window; count the events and distinct users inside each.
    The BETWEEN predicate becomes an equi-join on 15-minute buckets
    (keyed shuffle, bounded 2-3x interval fan-out, no nested-loop) —
    the range-join class Spark's planner would otherwise execute as
    BroadcastNestedLoopJoin. All-integer epoch-nanos arithmetic."""
    from m5_competition_kaggle_spark.operators.interval import (
        interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts_nanos").alias("p_tsn"),
    )
    half_hour = 30 * 60 * 1_000_000_000
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts_nanos").alias("w_start"),
        (F.col("ts_nanos") + F.lit(half_hour)).alias("w_end"),
    )
    quarter_hour = 15 * 60 * 1_000_000_000
    return (
        interval_join(
            points, incidents, "p_tsn", "w_start", "w_end", quarter_hour
        )
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("p_user_id").alias("n_users"),
            F.min("p_tsn").alias("first_tsn"),
            F.max("p_tsn").alias("last_tsn"),
        )
        .orderBy("incident_id")
    )


QUERIES["x67_interval_join"] = x67_interval_join

_INTERVAL_JOIN_ORACLE = """
WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events),
inc AS (SELECT event_id AS incident_id, epoch_ns(ts) AS w_start,
               epoch_ns(ts) + 1800000000000 AS w_end
        FROM events WHERE event_type = 'error')
SELECT incident_id,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(tsn) AS first_tsn,
       max(tsn) AS last_tsn
FROM inc JOIN ev ON ev.tsn >= inc.w_start AND ev.tsn < inc.w_end
GROUP BY incident_id
ORDER BY incident_id
"""

ORACLES["x67_interval_join"] = _INTERVAL_JOIN_ORACLE


def s11_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ONLINE near-dup probe
    (``streaming/neardup.py``): even-doc_id documents form the static
    corpus LSH index (the (key, band, bucket) artifact production
    stores at ingest); odd-doc_id documents are the "arriving" stream
    and emit one collision event per shared (band, bucket). The
    streaming path — same signature arithmetic under a watermarked
    windowed aggregate + stream-static probe join — is proven equal
    bit-for-bit in tests/test_streaming_neardup.py; this query
    certifies the collision set against DuckDB.

    r14 note: examined and deliberately LEFT in the two-branch form.
    The parity split means each document is tokenized exactly once
    across the two branches (no duplicated work to share), and a
    probed single-subtree variant (signatures over the whole table,
    parity filters above the aggregate) measured 3.4× SLOWER: the
    self-join realias blocks filter pushdown through the band unpivot
    on the build side, so that side signature-aggregates the FULL
    corpus."""
    from m5_competition_kaggle_spark.streaming.neardup import (
        corpus_lsh_index,
        near_dup_collisions,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)
    index = corpus_lsh_index(corpus, "doc_id", "text")
    return (
        near_dup_collisions(arriving, index, "doc_id", "text")
        .orderBy("doc_id", "corpus_id", "band")
    )


QUERIES["s11_stream_neardup"] = s11_stream_neardup


def _stream_neardup_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from m5_competition_kaggle_spark.operators.dedup import (
        MINHASH_P,
        minhash_params,
    )
    from m5_competition_kaggle_spark.queries.extensions import (
        _DOCS_TOKS,
        H64,
    )

    rows = num_hashes // bands
    base_h = H64.format(s="shingle")
    mins = ",\n        ".join(
        f"min(({a} * ({base_h} % {MINHASH_P}) + {b}) % {MINHASH_P})"
        f" AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    # 'band_N' string labels match Spark's unpivot variable names.
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, 'band_{b}' AS band, md5(concat_ws(',', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {_DOCS_TOKS}, {_shingle_cte(3)},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS (
{band_selects}
)
SELECT p.doc_id AS doc_id, c.doc_id AS corpus_id, p.band AS band
FROM bands p JOIN bands c
  ON p.band = c.band AND p.bucket = c.bucket
WHERE p.doc_id % 2 = 1 AND c.doc_id % 2 = 0
ORDER BY doc_id, corpus_id, band
"""


ORACLES["s11_stream_neardup"] = _stream_neardup_oracle()


def x68_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via the two-phase salted aggregate
    (``operators/skew.py::salted_aggregate``): (l_returnflag,
    l_linestatus) has ~6 groups over the whole fact table. The salt
    spreads each key over 16 reducers in phase 1 (map-side combine
    intact); phase 2 merges 16 tiny partials per key. Honest scope
    (measured — BASELINE.md round-6 skew micro-benchmarks): for
    ALGEBRAIC aggregates like this one, map-side partial aggregation
    already collapses hot keys before the shuffle, so the rewrite buys
    speed only for non-algebraic/collect-style aggregates or extreme
    key cardinality; hot-key JOINS (x88) are where salting measurably
    wins. What this query certifies is the rewrite's bit-exact
    algebraic equivalence (quantities are integral in this dataset, so
    integer units make salted == plain bit-for-bit), which is the
    precondition for reaching for it at all."""
    from m5_competition_kaggle_spark.operators.skew import (
        salted_aggregate,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_units", F.col("l_quantity").cast("long")
    )
    return (
        salted_aggregate(
            li, ["l_returnflag", "l_linestatus"], "qty_units",
            salt_buckets=16, spread_cols=["l_orderkey", "l_linenumber"],
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


QUERIES["x68_salted_agg"] = x68_salted_agg

ORACLES["x68_salted_agg"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_units,
       count(l_quantity) AS count_qty_units
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _hll_est_expr(used_col: str, scaled_col: str):
    """x45's integer HLL estimate from (used_buckets, sum_scaled) —
    identical literals/arithmetic so pair sketches certify bit-exact
    against the same formula in SQL."""
    from m5_competition_kaggle_spark.queries.llm_curation import (
        _HLL_LC,
        HLL_ALPHA_MICRO,
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_RANK_CAP,
    )

    lc_arr = ", ".join(str(v) for v in _HLL_LC)
    big = HLL_M * HLL_M * (1 << HLL_RANK_CAP)
    raw = f"({big}L div {scaled_col})"
    return F.expr(
        f"CASE WHEN ({HLL_M} - {used_col}) > 0"
        f" AND {raw} <= {HLL_LC_THRESHOLD}"
        f" THEN element_at(array({lc_arr}),"
        f" cast({HLL_M} - {used_col} as int))"
        f" ELSE ({raw} div 1000000) * {HLL_ALPHA_MICRO}"
        f" + (({raw} % 1000000) * {HLL_ALPHA_MICRO}) div 1000000 END"
    ).cast("long")


def x69_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of x66: pairwise source overlap estimated from
    x45's integer HLL registers via inclusion-exclusion —
    est_inter = est(A) + est(B) - est(A U B), where the union sketch
    is the registerwise max (the HLL union monoid, property-tested for
    x45). The register table is O(64 * sources) REGARDLESS of corpus
    size, so the whole pair matrix costs 64 * sources^2 integer
    max/sum operations — against x66's exact shingle self-join this is
    the 100 TB path, with x66 as its audit. Exact distinct-token
    overlap rides along for error accounting (the certify-the-error
    pattern of x45/x46; a production run drops the exact flank).
    All-integer arithmetic end to end.

    r14 plan shape: ONE distinct (source, token) table — materialized
    (eager localCheckpoint, the dedup-family convention; plan-subtree
    reuse does not fire across DataFrame consumers here) — feeds BOTH
    flanks: the register max over duplicate tokens equals the max over
    distinct tokens (rank is a pure function of the token hash), so
    the corpus is tokenized ONCE where the old plan tokenized it once
    per flank. The pair-union sketch is computed registerwise on
    per-source dense 64-long arrays (O(sources) rows, themselves
    checkpointed and crossJoined under a broadcast) instead of joining
    the 64×S dense register table with itself on bucket (64·S²
    shuffled rows + two more exchanges)."""
    from m5_competition_kaggle_spark.functions.text import h64, tokens
    from m5_competition_kaggle_spark.queries.llm_curation import (
        HLL_M,
        HLL_RANK_CAP,
    )

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    dt = materialize(tf.distinct())
    hashed = dt.select("source", h64(F.col("t")).alias("h")).select(
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
    # Dense 64-register array per source; sources with no tokens keep
    # an all-zero array (the old grid/left-join/coalesce semantics).
    dense = materialize(
        docs.select("source").distinct()
        .join(
            regs.groupBy("source").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("bucket", "mj"))
                ).alias("mm")
            ),
            "source", "left",
        )
        .select(
            "source",
            F.expr(
                f"transform(sequence(0, {HLL_M - 1}),"
                f" b -> coalesce(try_element_at(mm, cast(b as bigint)), 0L))"
            ).alias("r"),
        )
    )

    used_expr = "size(filter({c}, x -> x > 0L))"
    scaled_expr = (
        "aggregate({c}, 0L,"
        f" (acc, x) -> acc + shiftleft(1L, cast({HLL_RANK_CAP} - x as int)))"
    )

    def sketch_cols(df, arr_col):
        return df.withColumn(
            "used_buckets", F.expr(used_expr.format(c=arr_col))
        ).withColumn(
            "sum_scaled", F.expr(scaled_expr.format(c=arr_col))
        )

    per_src = sketch_cols(dense, "r").withColumn(
        "est", _hll_est_expr("used_buckets", "sum_scaled")
    ).select("source", "est")

    a = dense.select(F.col("source").alias("source_a"),
                     F.col("r").alias("ra"))
    b = dense.select(F.col("source").alias("source_b"),
                     F.col("r").alias("rb"))
    pair_arr = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .withColumn("u", F.expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
    )
    pair_union = sketch_cols(pair_arr, "u") \
        .withColumn("est_union",
                    _hll_est_expr("used_buckets", "sum_scaled")) \
        .select("source_a", "source_b", "est_union")

    ea = per_src.select(F.col("source").alias("source_a"),
                        F.col("est").alias("est_a"))
    eb = per_src.select(F.col("source").alias("source_b"),
                        F.col("est").alias("est_b"))
    xa = dt.select(F.col("source").alias("source_a"), "t")
    xb = dt.select(F.col("source").alias("source_b"), "t")
    exact = (
        xa.join(xb, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )

    return (
        pair_union.join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .withColumn(
            "est_inter",
            F.greatest(
                F.lit(0),
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
            ).cast("long"),
        )
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b", "est_a", "est_b", "est_union",
            "est_inter",
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
            F.expr(
                "(abs(est_inter - coalesce(exact_inter, 0)) * 1000)"
                " div greatest(coalesce(exact_inter, 0), 1)"
            ).cast("long").alias("err_permille"),
        )
        .orderBy("source_a", "source_b")
    )


QUERIES["x69_source_overlap_sketch"] = x69_source_overlap_sketch


def _source_overlap_sketch_oracle() -> str:
    from m5_competition_kaggle_spark.queries.llm_curation import (
        _HLL_LC,
        HLL_ALPHA_MICRO,
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_RANK_CAP,
    )
    from m5_competition_kaggle_spark.queries.extensions import H64

    big = HLL_M * HLL_M * (1 << HLL_RANK_CAP)
    lc = ", ".join(str(v) for v in _HLL_LC)

    def est(used, scaled):
        raw = f"({big} // {scaled})"
        return (
            f"CAST(CASE WHEN ({HLL_M} - {used}) > 0"
            f" AND {raw} <= {HLL_LC_THRESHOLD}"
            f" THEN ([{lc}])[{HLL_M} - {used}]"
            f" ELSE ({raw} // 1000000) * {HLL_ALPHA_MICRO}"
            f" + (({raw} % 1000000) * {HLL_ALPHA_MICRO}) // 1000000"
            f" END AS BIGINT)"
        )

    h = H64.format(s="t")
    return f"""
WITH tf AS (SELECT source,
                   unnest(str_split_regex(trim(text), '\\s+')) AS t
            FROM documents),
tfx AS (SELECT source, t FROM tf WHERE t <> ''),
hb AS (SELECT source, {h} % {HLL_M} AS bucket,
              {h} // {HLL_M} AS val
       FROM tfx),
r AS (SELECT source, bucket,
             CASE WHEN val = 0 THEN {HLL_RANK_CAP}
                  ELSE least(55 - length(bin(val)), {HLL_RANK_CAP}) END
                 AS rank
      FROM hb),
regs AS (SELECT source, bucket, max(rank) AS mj
         FROM r GROUP BY source, bucket),
grid AS (SELECT s.source, b.bucket
         FROM (SELECT DISTINCT source FROM documents) s
         CROSS JOIN (SELECT unnest(range({HLL_M})) AS bucket) b),
f AS (SELECT g.source, g.bucket, COALESCE(regs.mj, 0) AS m0
      FROM grid g LEFT JOIN regs
        ON regs.source = g.source AND regs.bucket = g.bucket),
sagg AS (SELECT source,
                count(CASE WHEN m0 > 0 THEN 1 END) AS used_buckets,
                CAST(sum(1::BIGINT << CAST({HLL_RANK_CAP} - m0 AS INT))
                     AS BIGINT) AS sum_scaled
         FROM f GROUP BY source),
sest AS (SELECT source, {est("used_buckets", "sum_scaled")} AS est
         FROM sagg),
pr AS (SELECT a.source AS source_a, b.source AS source_b,
              greatest(a.m0, b.m0) AS m0
       FROM f a JOIN f b
         ON a.bucket = b.bucket AND a.source < b.source),
pagg AS (SELECT source_a, source_b,
                count(CASE WHEN m0 > 0 THEN 1 END) AS used_buckets,
                CAST(sum(1::BIGINT << CAST({HLL_RANK_CAP} - m0 AS INT))
                     AS BIGINT) AS sum_scaled
         FROM pr GROUP BY source_a, source_b),
pest AS (SELECT source_a, source_b,
                {est("used_buckets", "sum_scaled")} AS est_union
         FROM pagg),
dt AS (SELECT DISTINCT source, t FROM tfx),
ex AS (SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS exact_inter
       FROM dt a JOIN dt b
         ON a.t = b.t AND a.source < b.source
       GROUP BY 1, 2),
m AS (SELECT p.source_a, p.source_b,
             ea.est AS est_a, eb.est AS est_b, p.est_union,
             CAST(greatest(0, ea.est + eb.est - p.est_union) AS BIGINT)
                 AS est_inter,
             COALESCE(ex.exact_inter, 0) AS exact_inter
      FROM pest p
      JOIN sest ea ON ea.source = p.source_a
      JOIN sest eb ON eb.source = p.source_b
      LEFT JOIN ex ON ex.source_a = p.source_a
                  AND ex.source_b = p.source_b)
SELECT source_a, source_b, est_a, est_b, est_union, est_inter,
       exact_inter,
       CAST((abs(est_inter - exact_inter) * 1000)
            // greatest(exact_inter, 1) AS BIGINT) AS err_permille
FROM m ORDER BY source_a, source_b
"""


ORACLES["x69_source_overlap_sketch"] = _source_overlap_sketch_oracle()


HH_THRESHOLD = 400  # occurrences; heavy-hitter cut for x70


def x70_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter extraction — the standard CMS application on top of
    x50's build/estimate primitives: candidate tokens are those whose
    CMS estimate clears the threshold (the sketch NEVER underestimates,
    so no true heavy hitter is missed — the no-false-negative property
    this query certifies end-to-end), then candidates alone get an
    exact count and the survivors equal the brute-force frequency
    filter bit-for-bit. At 100 TB the sketch is <= D*W cells (fixed),
    candidates are bounded by the threshold (at most total/T distinct
    items can exceed T), and only candidates pay an exact count — the
    classic two-phase 'filter by sketch, verify exact' shape. Output:
    token, est_cnt, exact_cnt, overcount."""
    from m5_competition_kaggle_spark.functions.text import tokens
    from m5_competition_kaggle_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(
        F.explode(tokens("text")).alias("__item")
    ).filter(F.col("__item") != "")
    # r14: ONE tokenize pass. The per-token count table feeds all three
    # stages — the weighted sketch build (cell-identical to the
    # per-occurrence build: cells are sums), the candidate probe (its
    # keys ARE the distinct items), and the exact verify (its counts
    # ARE the exact counts) — where the old plan tokenized the corpus
    # once per stage. The shared groupBy exchange is reused across
    # consumers (ReuseExchange).
    tf = items.groupBy("__item").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    sketch = cms_build(tf, "__item", weight_col="exact_cnt")
    cand = cms_estimate(sketch, tf.select("__item"), "__item").filter(
        F.col("est_cnt") >= HH_THRESHOLD
    )
    return (
        cand.join(tf, "__item")
        .filter(F.col("exact_cnt") >= HH_THRESHOLD)
        .select(
            F.col("__item").alias("token"),
            "est_cnt",
            "exact_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("token")
    )


QUERIES["x70_heavy_hitters"] = x70_heavy_hitters


def _heavy_hitters_oracle(d: int, w: int, thr: int) -> str:
    from m5_competition_kaggle_spark.queries.extensions import H64

    h = H64.format(s="token")
    pos = f"((h % {1 << 30}) + dd.d * ((h // {1 << 30}) * 2 + 1)) % {w}"
    # est >= exact always (CMS never underestimates), so the engine's
    # est-filtered-then-exact-verified set IS the plain exact filter —
    # the equivalence this oracle certifies.
    return rf"""
WITH tok AS (SELECT unnest(str_split_regex(trim(text), '\s+')) AS t
             FROM documents),
tf AS (SELECT t AS token FROM tok WHERE t <> ''),
exact AS (SELECT token, count(*) AS exact_cnt FROM tf GROUP BY token),
dd AS (SELECT unnest(range({d})) AS d),
hh AS (SELECT token, {h} AS h FROM tf),
cells AS (SELECT dd.d, {pos} AS pos, count(*) AS cnt
          FROM hh CROSS JOIN dd
          GROUP BY dd.d, pos),
cand AS (SELECT token, exact_cnt, {h} AS h
         FROM exact WHERE exact_cnt >= {thr}),
probes AS (SELECT cand.token, cand.exact_cnt, dd.d, {pos} AS pos
           FROM cand CROSS JOIN dd),
est AS (SELECT token, exact_cnt,
               CAST(min(COALESCE(cells.cnt, 0)) AS BIGINT) AS est_cnt
        FROM probes LEFT JOIN cells USING (d, pos)
        GROUP BY token, exact_cnt)
SELECT token, est_cnt, exact_cnt, est_cnt - exact_cnt AS overcount
FROM est ORDER BY token
"""


ORACLES["x70_heavy_hitters"] = _heavy_hitters_oracle(4, 1024, HH_THRESHOLD)


def s12_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING interval join
    (``operators/interval.py::streaming_interval_join``): the bucket
    expansion that turns the range predicate into an equi-join is
    stateless on the point side, so live events match static incident
    windows as they arrive with zero join state; the per-incident count
    is then one ordinary streaming aggregate. Stream == batch proven bit-for-bit in
    tests/test_streaming_interval.py; this twin (same plan over the
    batch frame) certifies the match set + aggregate against the
    DuckDB range join. Same windows as x67; output keeps per-incident
    event counts only (the streaming aggregate's natural shape)."""
    from m5_competition_kaggle_spark.operators.interval import (
        expanded_intervals,
        streaming_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        F.col("event_id").alias("p_event_id"),
        F.col("ts_nanos").alias("p_tsn"),
    )
    half_hour = 30 * 60 * 1_000_000_000
    quarter_hour = 15 * 60 * 1_000_000_000
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts_nanos").alias("w_start"),
        (F.col("ts_nanos") + F.lit(half_hour)).alias("w_end"),
    )
    exp = expanded_intervals(
        incidents, "w_start", "w_end", quarter_hour)
    return (
        streaming_interval_join(
            points, exp, "p_tsn", "w_start", "w_end", quarter_hour)
        .groupBy("incident_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("incident_id")
    )


QUERIES["s12_stream_interval_join"] = s12_stream_interval_join

ORACLES["s12_stream_interval_join"] = """
WITH ev AS (SELECT event_id, epoch_ns(ts) AS tsn FROM events),
inc AS (SELECT event_id AS incident_id, epoch_ns(ts) AS w_start,
               epoch_ns(ts) + 1800000000000 AS w_end
        FROM events WHERE event_type = 'error')
SELECT incident_id, count(*) AS n_events
FROM inc JOIN ev ON ev.tsn >= inc.w_start AND ev.tsn < inc.w_end
GROUP BY incident_id
ORDER BY incident_id
"""


def x71_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the cross-family composition:
    fuzzy (edit-distance) record-linkage pairs (x59's operator) feed
    connected components (x24's operator), and each cluster elects a
    canonical record (minimum id, the same deterministic rule x24
    certifies). This is the production record-dedup pipeline shape —
    blocking + verify + transitive closure + survivorship — with every
    stage an already-certified operator; the composition itself is what
    this query hash-certifies. Scale: q-gram candidate filter keyed and
    df-bounded, Levenshtein only on candidates, CC 1 keyed shuffle per
    round bounded by cluster diameter."""
    from m5_competition_kaggle_spark.operators.fuzzy import (
        fuzzy_self_join,
    )
    from m5_competition_kaggle_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("title")
    )
    pairs = fuzzy_self_join(
        docs, "doc_id", "title", max_dist=4, q=3, max_df=100
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(csize), "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
        .orderBy("cluster_id", "doc_id")
    )


QUERIES["x71_entity_clusters"] = x71_entity_clusters

# Same fuzzy CTE chain as the x59 oracle (re-declared so this module's
# closure stays off extensions_r5), then x24's recursive-reach
# component computation over the verified pairs.
ORACLES["x71_entity_clusters"] = """
WITH RECURSIVE
k AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents),
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
           ON a.gram = b.gram AND a.doc_id < b.doc_id),
vpairs AS (SELECT id_a, id_b FROM cand
           WHERE levenshtein(sa, sb) <= 4),
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
"""


PQ_M = 16         # subspaces over the 64-dim embeddings (4 dims each)
PQ_CODES = 64     # centroids per subspace (seed rule: lowest-id vecs)
PQ_QUERIES = 50   # query set: vec_id < 50 (x9/x23 convention)
PQ_SHORTLIST = 100


def x72_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (``operators/similarity_pq.py``),
    production shape: ADC over m=16 centroid codes builds a top-100
    shortlist (the corpus side joins a BROADCAST per-query m*k
    distance table keyed on (subspace, code) — it never shuffles on
    anything wider than its id), then exact int64 re-rank touches only
    |Q|*shortlist full vectors. Completes the ANN quartet (x9 exact,
    x10/x47 LSH, x23 IVF). All arithmetic int64 with (value, id)
    tie-breaks, so codes, ADC estimates, shortlist AND final ranking
    hash-certify; measured on this fixture the shortlist contains
    98.6% of the true top-10 (recall floor pinned in
    tests/test_r6_ops.py)."""
    from m5_competition_kaggle_spark.operators.similarity_pq import (
        pq_topk_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERIES)
    return pq_topk_rerank(
        emb, queries, k=10, shortlist=PQ_SHORTLIST,
        m=PQ_M, n_codes=PQ_CODES,
    ).orderBy("query_id", "rank")


QUERIES["x72_sim_topk_pq"] = x72_sim_topk_pq


def _pq_oracle(k: int, m: int, n_codes: int, n_queries: int,
               shortlist: int = 100, dim: int = 64) -> str:
    sub = dim // m
    return f"""
WITH qz AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
ss AS (SELECT vec_id, sp.s, v[sp.s * {sub} + 1 : sp.s * {sub} + {sub}]
              AS sv
       FROM qz CROSS JOIN (SELECT unnest(range({m})) AS s) sp),
cents AS (SELECT vec_id AS cid, s, sv AS cv FROM ss
          WHERE vec_id < {n_codes}),
dists AS (SELECT a.vec_id, a.s, c.cid,
                 CAST(list_sum(list_transform(range(1, {sub + 1}),
                      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i])))
                      AS BIGINT) AS d
          FROM ss a JOIN cents c USING (s)),
codes AS (SELECT vec_id, s, cid AS code FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, cid) AS rn
            FROM dists) WHERE rn = 1),
adc AS (SELECT vec_id AS query_id, s, cid AS code, d
        FROM dists WHERE vec_id < {n_queries}),
est AS (SELECT a.query_id, c.vec_id,
               CAST(sum(a.d) AS BIGINT) AS est_dist
        FROM codes c JOIN adc a ON a.s = c.s AND a.code = c.code
        GROUP BY 1, 2),
short AS (SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY est_dist, vec_id) AS srk
            FROM est WHERE query_id <> vec_id)
          WHERE srk <= {shortlist}),
rer AS (SELECT s.query_id, s.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> (q.v[i] - x.v[i]) * (q.v[i] - x.v[i])))
                    AS BIGINT) AS dist
        FROM short s
        JOIN qz q ON q.vec_id = s.query_id
        JOIN qz x ON x.vec_id = s.vec_id),
r AS (SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, vec_id) AS rank
      FROM rer)
SELECT query_id, vec_id, dist, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k} ORDER BY query_id, rank
"""


ORACLES["x72_sim_topk_pq"] = _pq_oracle(
    10, PQ_M, PQ_CODES, PQ_QUERIES, shortlist=PQ_SHORTLIST
)


def s13_stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ONLINE ANN probe (``streaming/ann.py``):
    per query embedding, the ADC nearest corpus neighbor against the
    static PQ index — the retrieval sibling of s11's dedup-at-ingest.
    The live path replays this exact plan per micro-batch via
    foreachBatch (one query's partials never span batches, so holding
    a queries-x-corpus streaming-agg state would grow unboundedly for
    nothing — the third streaming integration style next to s11's
    watermarked aggregate and s12's zero-state join; stream == batch
    by construction, proven in tests/test_streaming_ann.py). Ranking
    is a min(struct) aggregate, not a window, so the plan is
    streaming-legal end to end."""
    from m5_competition_kaggle_spark.streaming.ann import ann_top1

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERIES)
    return ann_top1(
        queries, emb, m=PQ_M, n_codes=PQ_CODES
    ).orderBy("query_id")


QUERIES["s13_stream_ann_probe"] = s13_stream_ann_probe


def _ann_top1_oracle(m: int, n_codes: int, n_queries: int,
                     dim: int = 64) -> str:
    sub = dim // m
    return f"""
WITH qz AS (SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS v
            FROM embeddings),
ss AS (SELECT vec_id, sp.s, v[sp.s * {sub} + 1 : sp.s * {sub} + {sub}]
              AS sv
       FROM qz CROSS JOIN (SELECT unnest(range({m})) AS s) sp),
cents AS (SELECT vec_id AS cid, s, sv AS cv FROM ss
          WHERE vec_id < {n_codes}),
dists AS (SELECT a.vec_id, a.s, c.cid,
                 CAST(list_sum(list_transform(range(1, {sub + 1}),
                      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i])))
                      AS BIGINT) AS d
          FROM ss a JOIN cents c USING (s)),
codes AS (SELECT vec_id, s, cid AS code FROM (
            SELECT vec_id, s, cid,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, cid) AS rn
            FROM dists) WHERE rn = 1),
adc AS (SELECT vec_id AS query_id, s, cid AS code, d
        FROM dists WHERE vec_id < {n_queries}),
est AS (SELECT a.query_id, c.vec_id,
               CAST(sum(a.d) AS BIGINT) AS est_dist
        FROM codes c JOIN adc a ON a.s = c.s AND a.code = c.code
        GROUP BY 1, 2),
r AS (SELECT query_id, vec_id, est_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY est_dist, vec_id) AS rn
      FROM est WHERE query_id <> vec_id)
SELECT query_id, vec_id, est_dist FROM r WHERE rn = 1 ORDER BY query_id
"""


ORACLES["s13_stream_ann_probe"] = _ann_top1_oracle(
    PQ_M, PQ_CODES, PQ_QUERIES
)
