"""Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin
family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

The third point in the near-dup design space next to MinHash LSH
(``operators/dedup.py``, probabilistic recall) and SemDeDup cells
(``operators/semantic_dedup.py``, embedding-space): prefix filtering is
EXACT — it returns precisely the pairs with Jaccard >= t — while still
never materializing the all-pairs cross product. The trick: order every
document's token set by a single global order (rarest token first), keep
only a short *prefix* of each set as join keys, and verify candidates
exactly. The prefix-filtering lemma makes the candidate set lossless:

    If |a ∩ b| >= alpha, then under any common total order the first
    (|a| - alpha + 1) tokens of a and the first (|b| - alpha + 1)
    tokens of b share at least one token.

    (If all alpha common tokens avoided a's prefix they would all sit
    in a's last alpha-1 positions — impossible. So some common c_a is
    in prefix(a), some c_b in prefix(b). If neither lies in the other
    prefix, c_a sits after b's prefix while c_b sits inside it, forcing
    order(c_b) < order(c_a); symmetrically order(c_a) < order(c_b) —
    contradiction.)

For Jaccard >= t the overlap bound is alpha = ceil(t * max(|a|, |b|))
(o >= t*|a ∪ b| >= t*max). Taking each set's own prefix length
p_x = |x| - ceil(t*|x|) + 1 is therefore lossless for both sides: the
smaller set's prefix is at least as long as the lemma requires, the
larger set's is exactly the requirement. Rarest-first ordering is a
pure performance choice (prefixes of rare tokens collide seldom);
correctness holds under ANY shared total order.

Scale shape (100 TB): token df is one hash aggregate; per-doc ordering
is a window keyed by doc; the candidate join keys on single (rare)
tokens so the shuffle is bounded by prefix postings, not full postings;
verification joins only candidate pairs against the distinct-token
lists. No cross join anywhere. Skew guard: ubiquitous tokens never
enter prefixes of large sets (a token in many docs has high df, so it
sorts last and falls outside the prefix unless the set is tiny).

Arithmetic is all-integer (threshold as a rational p/q), so results
hash-reproduce exactly in ANSI SQL (x64 oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def _ceil_mul(n, p: int, q: int):
    """ceil(p*n/q) for integer column n — exact in any engine."""
    return F.floor((F.lit(p) * n + F.lit(q - 1)) / F.lit(q)).cast("long")


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_p: int = 3,
    threshold_q: int = 5,
    shingle_size: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with distinct-element Jaccard >= p/q.

    Elements are whitespace tokens, or ``shingle_size``-token shingles
    when set — shingle sets are the right granularity for near-dup text
    (token sets collapse on small vocabularies: duplicate-group pairs
    grow quadratically and no filter can prune output that IS the
    answer; shingles keep the element space |vocab|^n so only genuine
    near-dups qualify).

    Returns (id_a, id_b, inter_cnt, union_cnt, jacc_permille) —
    integer permille = floor(1000*inter/union), deterministic.
    """
    if shingle_size is not None:
        from m5_competition_kaggle_spark.operators.dedup import (
            doc_shingles,
        )

        tok = doc_shingles(df, id_col, text_col, shingle_size).select(
            F.col(id_col).alias("doc"), F.col("shingle").alias("token")
        )
    else:
        tok = df.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
            ).alias("token"),
        )
    # The element table feeds FOUR subtrees (token df counts, the
    # ranked/prefix pipeline, and both exact-verify flanks); the eager
    # localCheckpoint shingles the corpus ONCE instead of once per
    # consumer (guide §5 caching-when-reused; x98's pairs/splits
    # convention — this is the operator's working set, reused by
    # construction).
    tok = materialize(tok)
    # Global rarest-first order: (df ASC, token ASC). Ties broken by the
    # token string so the order is total and engine-independent.
    tdf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tok_df"))
    ranked = tok.join(tdf, "token")
    w_doc = Window.partitionBy("doc").orderBy("tok_df", "token")
    sized = (
        ranked.withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n_tok", F.count(F.lit(1)).over(
            Window.partitionBy("doc")))
    )
    # p_x = n - ceil(t*n) + 1 (lossless; see module docstring).
    prefix = sized.filter(
        F.col("pos")
        <= F.col("n_tok") - _ceil_mul(F.col("n_tok"),
                                      threshold_p, threshold_q) + 1
    ).select("doc", "token", "n_tok")

    a = prefix.select(
        F.col("doc").alias("id_a"), "token", F.col("n_tok").alias("na"))
    b = prefix.select(
        F.col("doc").alias("id_b"), "token", F.col("n_tok").alias("nb"))
    # Length filter: J >= t forces t*max <= min — prunes before verify.
    cand = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _ceil_mul(F.greatest("na", "nb"), threshold_p, threshold_q)
            <= F.least("na", "nb")
        )
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )

    ta = tok.select(F.col("doc").alias("id_a"), "token")
    tb = tok.select(F.col("doc").alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    # J >= p/q  <=>  q*inter >= p*(na+nb-inter), all-integer.
    return (
        inter.withColumn(
            "union_cnt", F.col("na") + F.col("nb") - F.col("inter_cnt"))
        .filter(
            F.lit(threshold_q) * F.col("inter_cnt")
            >= F.lit(threshold_p) * F.col("union_cnt")
        )
        .select(
            "id_a", "id_b", "inter_cnt", "union_cnt",
            F.floor(F.lit(1000) * F.col("inter_cnt") / F.col("union_cnt"))
            .cast("long").alias("jacc_permille"),
        )
    )


def source_jaccard_matrix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise group-level shingle Jaccard (x66): distinct
    (group, shingle) via one keyed aggregate, pair matrix via a
    shingle-keyed self-join aggregated to the bounded groups² rows.

    ``max_df`` is the 100 TB skew knob the exact form lacks: shingles
    present in more than ``max_df`` groups are dropped BEFORE the pair
    generation. A shingle in g groups contributes C(g,2) pair rows, so
    the near-universal shingles dominate the fan-out while carrying
    almost no discriminative signal — capping df bounds per-shingle
    fan-out at C(max_df,2) and biases Jaccard toward the distinctive
    overlap (set sizes shrink consistently too: sizes are computed
    AFTER the cap so inter <= union still holds and permille stays in
    [0, 1000]). ``None`` keeps the exact measure (the certified x66
    path).

    r14 shape (the x75 basket rewrite applied here): ONE keyed
    ``collect_set`` condenses each shingle to its sorted distinct
    group array — the group-set per shingle is bounded by the group
    count, which the operator's contract already assumes is small
    (output is groups² rows). Pairs are generated array-locally
    (exactly the old shingle-keyed self-join's C(g,2) fan-out, without
    the second corpus-wide exchange), and the per-group set sizes
    explode the same arrays — so the corpus is shingled ONCE and both
    consumer branches hang off the same shingle-keyed exchange
    (ReuseExchange) instead of three scan+distinct subtrees.
    """
    from m5_competition_kaggle_spark.operators.dedup import doc_shingles

    sh = doc_shingles(df, id_col, text_col, shingle_size)
    grp = (
        sh.join(df.select(id_col, group_col), id_col)
        .select(group_col, "shingle")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set(group_col)).alias("__gs"))
    )
    if max_df is not None:
        grp = grp.filter(F.size("__gs") <= max_df)
    # grp (one row per distinct shingle, bounded group arrays) feeds
    # the pair explode AND the size flank; the eager localCheckpoint
    # shingles the corpus ONCE instead of once per consumer (measured:
    # without it no ReuseExchange fires and the scan+join+collect_set
    # pipeline replays per consumer).
    grp = materialize(grp)
    # sizes is bounded by the group count (tiny); checkpointing it
    # stops the two broadcast flanks (na, nb) from re-running the
    # explode+aggregate over the checkpointed shingle table twice.
    # coalesce(1): one row per group, one checkpoint block (r15
    # checkpoint-site audit).
    sizes = materialize(
        grp.select(F.explode("__gs").alias(group_col))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
    )
    inter = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(__gs, (x, i) ->"
                    " transform(slice(__gs, i + 2, size(__gs) - i - 1),"
                    " y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("__p")
        )
        .select("__p.source_a", "__p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    na = sizes.select(F.col(group_col).alias("source_a"),
                      F.col("n").alias("na"))
    nb = sizes.select(F.col(group_col).alias("source_b"),
                      F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .withColumn(
            "union_cnt", F.col("na") + F.col("nb") - F.col("inter_cnt"))
        .select(
            "source_a", "source_b", "inter_cnt", "union_cnt",
            F.floor(F.lit(1000) * F.col("inter_cnt") / F.col("union_cnt"))
            .cast("long").alias("jacc_permille"),
        )
    )
