"""Fuzzy (edit-distance) self-join — record linkage over string keys.

The missing join class next to the equi/asof/range/semi family: find
pairs whose STRING keys are within Levenshtein distance d (dirty
titles, OCR'd names, near-identical URLs). The scalable shape is the
standard q-gram filter-and-verify:

1. candidate pairs = keys sharing at least one RARE character q-gram
   (grams with document frequency above ``max_df`` are dropped — the
   classic stop-gram prune that keeps the gram join from exploding on
   "the"/"ing"; the df computation is itself exact and deterministic,
   so the candidate set is engine-reproducible);
2. verify = exact ``levenshtein`` on the candidate pairs only.

Like LSH, the candidate stage trades recall for boundedness (a pair
sharing ONLY ultra-common grams is missed) and the verify stage keeps
precision exact; x59 hash-certifies the whole pipeline against DuckDB
(both engines implement classic Levenshtein).

Scale notes: everything is keyed — gram explode, df agg, gram
equi-join, pair distinct, verify expressions; no broadcast grows with
the corpus. ``max_df`` bounds per-gram join fan-out at max_df² pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m5_competition_kaggle_spark.blocks import materialize


def _grams(col: str, q: int) -> "F.Column":
    """array of character q-grams of ``col`` (empty below length q)."""
    return F.expr(
        f"CASE WHEN length({col}) >= {q} THEN "
        f"transform(sequence(1, length({col}) - {q - 1}), "
        f"i -> substring({col}, i, {q})) "
        "ELSE array() END"
    )


def fuzzy_self_join(
    df: DataFrame,
    key_col: str,
    str_col: str,
    max_dist: int = 4,
    q: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """(id_a, id_b, dist): all candidate pairs (id_a < id_b) whose
    strings verify at Levenshtein distance ≤ ``max_dist``, candidates
    bounded by the rare-q-gram filter."""
    keyed = df.select(
        F.col(key_col).alias("__id"), F.col(str_col).alias("__s")
    )
    # r15 (guide §5): `grams` feeds the df aggregate AND the prune
    # join, and `pruned` feeds BOTH self-join sides — without the cuts
    # the explode+distinct pipeline replays up to 4× in the composed
    # plan (measured: 30 scan/exchange lines collapse to the checkpoint
    # reads; 32c 2.84 → 1.96 s). A string-free gram table with a keyed
    # join-back of __sa/__sb onto the deduped pairs (guide §2.3
    # "shuffle keys, not payloads") was tried and REJECTED: the two
    # extra keyed joins cost more than the 24-char payload saves
    # (measured 3.36 s vs 1.96 s at 32c) — revisit only for long
    # strings.
    grams = materialize(keyed.select(
        "__id", "__s", F.explode(_grams("__s", q)).alias("__g")
    ).distinct())
    rare = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("__g")
    )
    pruned = materialize(grams.join(rare, "__g"))
    a = pruned.select(
        F.col("__g"), F.col("__id").alias("id_a"), F.col("__s").alias("__sa")
    )
    b = pruned.select(
        F.col("__g"), F.col("__id").alias("id_b"), F.col("__s").alias("__sb")
    )
    cand = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("__sa"), F.col("__sb")))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
