"""Product-quantization ANN (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011) — the compression member of the
ANN family, completing the quartet next to exact block-matmul (x9),
hyperplane LSH (x10/x47) and IVF (x23).

PQ's contract is different from LSH/IVF's: it shrinks the CORPUS
representation. Each vector is cut into ``m`` subvectors; each
subvector is replaced by the id of its nearest codebook centroid —
m small integers (here 4 bytes-worth) instead of 64 floats. Query
time uses Asymmetric Distance Computation (ADC): the query precomputes
its distance to every centroid of every subspace (an m×k table, tiny),
and a vector's estimated distance is the sum of m table lookups over
its codes — no float math ever touches the corpus again.

Scale shape at 100 TB:
- the codebook is m×k×(dim/m) integers — broadcast;
- encoding is one map-side pass over the corpus against that broadcast
  (argmin over k per subspace);
- the per-query ADC table (m×k rows per query) is BROADCAST, and the
  estimate is a keyed join on (subspace, code) against the code table
  followed by a keyed sum — the corpus-sized side never shuffles on
  anything wider than its own id;
- top-k is one window per query.

Determinism: every distance is ``operators/vector_kernel.py``'s exact
int64 squared L2 with its (value, id) tie-break, so codes, estimates
and the final ranking reproduce bit-for-bit in ANSI SQL (x72). The
codebook rule is the same seed convention as IVF: the k lowest-id
vectors supply the centroids for every subspace (a production build
swaps in trained k-means; the plan is identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.vector_kernel import (
    int_sqdist,
    quantized,
    seed_codebook,
    subspaces,
)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int | None = 10,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, est_dist, rank), rank 1..k per
    query by (estimated squared L2 ASC, vec_id ASC); the query's own
    vector is excluded. ``dim`` must divide by ``m``. ``k=None``
    returns the FULL estimate table without the ranking window — the
    streaming-safe form (``streaming/ann.py`` cuts it with an
    aggregate instead).

    .. note:: Calling this function runs a small Spark job IMMEDIATELY:
       the ≤ ``n_codes``-row codebook is collected and broadcast for
       the Arrow-side corpus encode (r15, guide §4.2) — a
       constant-bounded driver pull (n_codes·dim int64s, a few KB),
       the same bounded-broadcast budget the module docstring's scale
       shape already assumed for the codebook."""
    import numpy as np
    import pandas as pd

    sub = dim // m
    if sub * m != dim:
        raise ValueError("m must divide dim")

    seed = seed_codebook(quantized(vectors, id_col, vec_col), n_codes)
    cents = subspaces(seed, "cid", "cv", m, sub)

    # Corpus encode (r15, guide §4.2): the r14 form evaluated
    # int_sqdist — an INTERPRETED higher-order lambda — once per
    # (vector, subspace, centroid) row, i.e. corpus·m·n_codes
    # times (2M interpreted evals ≈ 2.1 s of x72's 3.7 s at sf0.1).
    # One Arrow batch now computes every subspace distance with exact
    # int64 numpy (x² − 2xy + y² via integer einsum — no floats, no
    # BLAS rounding) and takes the argmin per (vector, subspace).
    # np.argmin returns the FIRST minimum, i.e. the lowest cid —
    # identical to the old min(d·n_codes + cid) packed tie-break.
    # The vector_kernel overflow envelope covers the x² − 2xy + y²
    # terms; the codebook is n_codes·dim int64s (a few KB), broadcast
    # once per task via sc.broadcast.
    cb_rows = seed.collect()
    # Compact codebook over the PRESENT cids only, sorted ascending —
    # a missing id < n_codes contributes no centroid (exactly the old
    # join semantics), and ascending order keeps argmin's first-min
    # tie-break ⇔ lowest cid.
    cb_rows.sort(key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in cb_rows], dtype=np.int64)
    if cb_rows:
        cb = np.array([r["cv"] for r in cb_rows], dtype=np.int64)
        # (m, k, sub): subspace s covers dims [s·sub, (s+1)·sub)
        cbm = cb.reshape(len(cb_rows), m, sub).transpose(1, 0, 2).copy()
    else:
        cbm = np.zeros((m, 0, sub), dtype=np.int64)
    sc = vectors.sparkSession.sparkContext
    bc, bc_ids = sc.broadcast(cbm), sc.broadcast(cids)

    staged = quantized(vectors, id_col, vec_col, ("vec_id", "__v"))

    def encode(batches):
        cbm, cid_arr = bc.value, bc_ids.value  # (m, k, sub), (k,)
        if cbm.shape[1] == 0:  # no centroids ⇒ no codes (old join)
            return
        cb2 = (cbm * cbm).sum(axis=2)  # (m, k)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["__v"].to_numpy()).astype(np.int64)
            v = v.reshape(len(pdf), m, sub)
            v2 = (v * v).sum(axis=2)  # (n, m)
            cross = np.einsum("nms,mks->nmk", v, cbm)  # exact int64
            d = v2[:, :, None] - 2 * cross + cb2[None, :, :]
            code = cid_arr[d.argmin(axis=2)]  # first min ⇒ lowest cid
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(), m
                    ),
                    "s": np.tile(
                        np.arange(m, dtype=np.int64), len(pdf)
                    ),
                    "code": code.reshape(-1).astype(np.int64),
                }
            )

    codes = staged.mapInPandas(encode, "vec_id long, s long, code long")

    qsub = subspaces(
        quantized(queries, id_col, vec_col, ("query_id", "sv")),
        "query_id", "sv", m, sub,
    )
    adc = (
        qsub.join(F.broadcast(cents), "s")
        .withColumn("__d", int_sqdist("sv", "cv"))
        .select("query_id", "s", F.col("cid").alias("code"), "__d")
    )

    est = (
        codes.join(F.broadcast(adc), ["s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("__d").alias("est_dist"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    if k is None:  # full ADC estimate table, no ranking window
        return est
    w_rank = Window.partitionBy("query_id").orderBy(
        "est_dist", "vec_id")
    return (
        est.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "est_dist", "rank")
    )


def pq_topk_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 100,
    m: int = 16,
    n_codes: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The production PQ recipe: ADC shortlist, then EXACT re-rank.

    ADC alone trades recall for compression (measured on the synthetic
    sf0.01 embeddings — near-random vectors, PQ's pathological case —
    recall@10 is ~0.46 at m=16/k=64 even though the arithmetic is
    exact); re-ranking the ADC top-``shortlist`` with the true
    quantized squared L2 recovers it (the same fixture's shortlist@100
    contains 98.6% of the true top-10). Stage 2 touches only
    |Q|·shortlist full vectors — a keyed join against the corpus, so
    the scan stays proportional to the shortlist, not the corpus.
    Returns (query_id, vec_id, dist, rank) with exact int64 ``dist``.
    """
    cand = pq_topk(
        vectors, queries, k=shortlist, m=m, n_codes=n_codes,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).select("query_id", "vec_id")
    vz = quantized(vectors, id_col, vec_col, ("vec_id", "v"))
    qv = quantized(queries, id_col, vec_col, ("query_id", "qv"))
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        cand.join(vz, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("dist", int_sqdist("qv", "v"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "dist", "rank")
    )
