"""Nearest-centroid classification over quantized embeddings.

The evaluation loop for labeled embedding spaces: build one integer
prototype per label (the x39 centroid computation, kept here as a
returning operator) and assign every vector to its highest-scoring
prototype, reported as a confusion matrix. This is the standard
label-quality / embedding-drift check a curation pipeline runs after
re-embedding a corpus — if the confusion matrix degrades, the new
embedding space broke the label structure.

Integer contract: vectors quantize to int64 milli-units
(``operators/vector_kernel.py::QUANT``), the per-label score is
``dot(v, centroid_sum) DIV n_label`` — one truncating division by the
label count instead of a float mean, identical in both engines — and
the argmax breaks ties toward the smaller label. Everything certifies
bit-for-bit (x87).

Cost shape: centroids are one posexplode + keyed sum (map-side
combinable, output = labels × dim rows — tiny, broadcast); scoring
fans each vector component to the label count via the broadcast join
(N·dim·L rows through one keyed aggregate), then one per-vector argmax
window. The corpus of raw vectors is shuffled once (the explode), the
centroid table never grows with N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.operators.similarity import quantize_expr


def centroid_sums(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, pos, sum_q, n_vectors): exact integer centroid sums —
    the same statistic x39 certifies, returned for composition."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(quantize_expr(vec_col)).alias("pos", "q"),
        )
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.sum("q").alias("sum_q"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def centroid_confusion(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(true_label, pred_label, n): nearest-centroid assignment of
    every vector vs its true label.

    score(v, l) = dot(quant(v), sum_q_l) DIV n_l; argmax ties to the
    smaller label. Self-inclusion note: each vector participates in its
    own label's centroid — the standard resubstitution confusion
    matrix."""
    cents = centroid_sums(emb, label_col, vec_col)
    comps = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("true_label"),
        F.posexplode(quantize_expr(vec_col)).alias("pos", "q"),
    ).withColumn("pos", F.col("pos").cast("long"))
    scored = (
        comps.join(
            F.broadcast(
                cents.select(
                    "pos",
                    F.col("label").alias("cand"),
                    "sum_q",
                    "n_vectors",
                )
            ),
            "pos",
        )
        .groupBy("vid", "true_label", "cand")
        .agg(
            F.sum(F.col("q") * F.col("sum_q")).alias("dot"),
            F.max("n_vectors").alias("n_l"),
        )
        .withColumn("score", F.expr("dot DIV n_l"))
    )
    w = Window.partitionBy("vid").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    best = scored.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") == 1
    )
    return (
        best.groupBy("true_label", F.col("cand").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
