"""The quantized int64 vector metric — the one rule every ANN,
clustering and dedup operator ranks by.

Quantization: each array<float> component becomes
``CAST(round(CAST(x AS DOUBLE) * QUANT) AS BIGINT)``, JVM-side, so all
float rounding happens once in Spark and every later step is integer
math that any engine (the DuckDB oracle, numpy) reproduces bit for bit.

Metrics: ``int_dot`` (Σ a_i·b_i) and ``int_sqdist`` (Σ (a_i − b_i)²),
each one exact BIGINT ``aggregate(zip_with(...))`` over two quantized
arrays. The ``*_sql`` forms return the same expression as SQL text so
callers can nest it inside their own higher-order lambdas. Lambda
variables carry a ``__vk_`` prefix so they never shadow a caller's
column.

Overflow envelope: for d-dimensional vectors whose components satisfy
|q_i| ≤ M, every partial sum of ``int_dot`` is bounded by d·M² and of
``int_sqdist`` by 4·d·M², so both are exact while 4·d·M² < 2⁶³. At
d = 64 that admits M ≤ 2²⁷ (raw |x| ≤ ~134 000 at QUANT = 1000); unit
embeddings sit at M ≤ 1000. ``rounded_mean`` needs 2·n·M + n < 2⁶³
for n members. Under ANSI mode an out-of-envelope input raises instead
of wrapping.

Tie-break: every ranking over these metrics orders by (metric
best-first, id ascending) — dot descending or squared L2 ascending,
then the lower centroid/vector id. The metrics are exact integers, so
ties are real and the id order makes every argmin/argmax
engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1000  # 1e-3 quantization for deterministic ranking


def quantize_sql(vec_col: str) -> str:
    """array<float> → array<bigint> as SQL text: round(x·QUANT) per
    component."""
    return (
        f"transform({vec_col}, __vk_x -> "
        f"CAST(round(CAST(__vk_x AS DOUBLE) * {QUANT}) AS BIGINT))"
    )


def quantize_expr(vec_col: str) -> Column:
    """array<float> → array<bigint>: round(x·QUANT) per component."""
    return F.expr(quantize_sql(vec_col))


def _zip_sum_sql(a: str, b: str, term: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (__vk_x, __vk_y) -> {term}), 0L, "
        "(__vk_acc, __vk_t) -> __vk_acc + __vk_t)"
    )


def int_dot_sql(a: str, b: str) -> str:
    """Σ a_i·b_i over two quantized arrays, as SQL text."""
    return _zip_sum_sql(a, b, "__vk_x * __vk_y")


def int_sqdist_sql(a: str, b: str) -> str:
    """Σ (a_i − b_i)² over two quantized arrays, as SQL text."""
    return _zip_sum_sql(a, b, "(__vk_x - __vk_y) * (__vk_x - __vk_y)")


def int_dot(a: str, b: str) -> Column:
    """Exact BIGINT dot of two quantized arrays (SQL fragments)."""
    return F.expr(int_dot_sql(a, b))


def int_sqdist(a: str, b: str) -> Column:
    """Exact BIGINT squared L2 of two quantized arrays (SQL fragments)."""
    return F.expr(int_sqdist_sql(a, b))


def quantized(
    df: DataFrame, id_col: str, vec_col: str, names=("vid", "v")
) -> DataFrame:
    """(id, quantized vector) rows of ``df``, renamed to ``names``."""
    return df.select(
        F.col(id_col).alias(names[0]), quantize_expr(vec_col).alias(names[1])
    )


def seed_codebook(
    qz: DataFrame, n: int, key: str = "vid", vec: str = "v"
) -> DataFrame:
    """(cid, cv): the ``n`` lowest-id vectors of a quantized table —
    the deterministic seed rule of every IVF/PQ/k-means codebook."""
    return qz.filter(F.col(key) < n).select(
        F.col(key).alias("cid"), F.col(vec).alias("cv")
    )


def subspaces(
    df: DataFrame, key: str, vec: str, m: int, sub: int
) -> DataFrame:
    """(key, s, vec): each vector cut into ``m`` consecutive
    sub-vectors of length ``sub``; the slice keeps the column name."""
    return df.select(
        key,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).cast("long").alias("s"),
                    F.expr(f"slice({vec}, {s * sub + 1}, {sub})").alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("__e"),
    ).select(key, "__e.s", F.col("__e.sv").alias(vec))


def top_n(
    df: DataFrame, key: str | list[str], score: str, tie: str, metric: str,
    n: int, rank: str = "__rn",
) -> DataFrame:
    """Rows of rank 1..``n`` per ``key`` under the tie-break rule:
    ``score`` best-first for ``metric`` (``"dot"`` highest, ``"l2"``
    lowest), then ``tie`` ascending. The rank stays in ``rank``."""
    if metric not in ("dot", "l2"):
        raise ValueError(f"metric must be 'dot' or 'l2', got {metric!r}")
    best = F.desc(score) if metric == "dot" else F.asc(score)
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(best, F.asc(tie))
    return df.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= n
    )


def nearest_centroids(
    points: DataFrame, cent: DataFrame, key: str | list[str], vec: str,
    metric: str, n: int = 1, score: str = "__score", on: str | None = None,
) -> DataFrame:
    """The ``n`` nearest centroids per ``key``: broadcast the (cid, cv)
    rows across the points (on the shared column ``on``, else a cross
    join), score by ``metric`` (``int_dot`` or ``int_sqdist``) into
    ``score`` and keep ``top_n`` with ties to the lower cid. Returns
    the point and centroid columns plus ``score``."""
    dist = int_dot if metric == "dot" else int_sqdist
    fan = (
        points.join(F.broadcast(cent), on) if on
        else points.crossJoin(F.broadcast(cent))
    )
    return top_n(
        fan.withColumn(score, dist(vec, "cv")), key, score, "cid", metric, n
    ).drop("__rn")


def rounded_mean(df: DataFrame, key: str, vec: str) -> DataFrame:
    """(key, cv): per-``key`` component-wise mean of the quantized
    array ``vec``, rounded half away from zero in integers —
    sign(s)·((2|s| + n) DIV 2n)."""
    sums = (
        df.select(key, F.posexplode(vec).alias("__i", "__q"))
        .groupBy(key, "__i")
        .agg(F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    rounded = sums.withColumn(
        "__r",
        F.expr(
            "CASE WHEN __s >= 0 THEN (2 * __s + __n) DIV (2 * __n) "
            "ELSE -((2 * -__s + __n) DIV (2 * __n)) END"
        ),
    )
    return (
        rounded.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("__i", "__r"))).alias("cv"))
        .select(key, F.expr("transform(cv, p -> p.__r)").alias("cv"))
    )
