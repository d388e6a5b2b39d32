"""Generate PLAN_AUDIT.md: structural plan metrics for every registered
query — the scale-shape evidence behind the per-query docstrings, in
one diffable artifact.

For each ``__spark_entry__.queries()`` entry the query is first run
to completion at sf0.001 (collected), then the plan that actually ran
— the adaptive plan's final form (``isFinalPlan=true``), read from the
same ``QueryExecution`` — is scanned for the node types that matter at
100 TB:

- exchanges (hash/range) — the shuffle count;
- SinglePartition exchanges — allowed ONLY to merge a 1-row global
  aggregate (anything else is the classic scale-killer; flagged);
- broadcast exchanges / broadcast-NL joins — must be bounded sides;
- CartesianProduct — flagged, full stop;
- Arrow/Pandas stages — the deliberate Python crossings (ML, matmul,
  codec); row-at-a-time PythonUDF would show separately and is flagged;
- WholeStageCodegen spans and unpartitioned windows.

Run: python scripts/plan_audit.py   (rewrites PLAN_AUDIT.md)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

PATTERNS = {
    "exch": r"Exchange (?:hash|range)partitioning",
    "exch1": r"Exchange SinglePartition",
    "bcast": r"BroadcastExchange",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cart": r"CartesianProduct",
    "arrow": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
             r"|FlatMapCoGroupsInPandas|MapInArrow",
    "pyudf": r"BatchEvalPython",
}


# Queries allowed a non-aggregate SinglePartition exchange, with the
# documented reason — rendered into the report so the justification is
# auditable, not silent.
ALLOWED_SINGLE_PARTITION = {
    "q15_label_encode": (
        "default label_encode ranks the DISTINCT-value code table with a"
        " global window — bounded by column cardinality, not corpus size"
        " (reference parity: pandas category codes); the scalable=True"
        " variant (two-phase prefix scan, x53's machinery) is the"
        " high-cardinality path"
    ),
    "q18_feature_pipeline": (
        "composes q15's default label_encode; same bounded code table"
    ),
    "x133_gains_lift": (
        "lift_table walks the BUCKET table with a global window —"
        " one row per gains bucket (10 deciles), never per vector;"
        " the corpus reduces through the two-phase prefix-scan rank"
        " and one keyed aggregation first"
    ),
    "x124_km_survival": (
        "km_curve walks the (t, deaths, at-risk) survival table with"
        " a global window — one row per DISTINCT observed duration"
        " (bounded by the observation window in days, 31 here), never"
        " per subject; the corpus reduces to it via two keyed"
        " aggregations first"
    ),
    "x119_char_budget_mix": (
        "largest_remainder ranks the per-SOURCE weight table with a"
        " global window — one row per source (catalog cardinality,"
        " ~20 here), never per document; the corpus-sized input is"
        " reduced by the keyed aggregation before the window"
    ),
    "x167_heaps_slope": (
        "the Theil–Sen kernel runs over the TEN decile checkpoints"
        " with a constant key (one corpus = one series), which"
        " Catalyst folds to a single partition — the input is 10 rows"
        " BY CONSTRUCTION at any corpus size (x157 emits exactly one"
        " row per decile), so the single partition holds 45 pairs,"
        " never corpus rows"
    ),
    "x177_dup_cluster_profile": (
        "the x167 Theil–Sen shape on the cluster-size HISTOGRAM —"
        " one row per DISTINCT cluster size (a log-scale handful at"
        " any corpus size), never per document or cluster; the"
        " corpus reduces through LSH pairs -> connected components"
        " -> per-cluster sizes -> the size histogram before the"
        " constant-key slope kernel sees a row"
    ),
    "x187_conversion_lag_quantiles": (
        "the value-at-rank cumulative window walks the DISTINCT"
        " lag-minute cells — bounded by the CALENDAR (a 31-day"
        " window has <= 44,641 minute values at any corpus size;"
        " the x124 distinct-durations class); the corpus reduces"
        " through the keyed per-user aggregate first"
    ),
    "x193_user_growth": (
        "the running-total window walks the per-DAY new-user table —"
        " bounded by the CALENDAR (one row per day at any corpus"
        " size; the x124 class); the corpus reduces through the"
        " keyed per-user first-seen aggregate first"
    ),
    "x209_fact_consistency": (
        "the value-at-rank cumulative window walks the deviation"
        " cells — bounded EXPLICITLY at DEV_CAP_PCT + 1 = 1001 rows"
        " by the least() cap (every deviation >= 10x the total lands"
        " in one cell), not by the calendar; the corpus reduces"
        " through the per-order keyed cents aggregate first"
    ),
    "x206_watermark_audit": (
        "the value-at-rank cumulative window walks the DISTINCT"
        " lateness-minute cells — bounded by the CALENDAR (a 31-day"
        " span has <= 44,641 minute values at any corpus size; the"
        " x124/x187 class); the corpus-sized running max runs through"
        " the two-phase range-partitioned scan"
        " (operators/prefix.py::global_running_max), plan-asserted"
        " single-partition-free by its running-max tests"
    ),
    "x220_emd_drift": (
        "the corpus-grid cum/lead window walks the distinct"
        " integer-value cells — bounded by the VALUE RANGE (~330"
        " cells on this fixture; the x209 value-cell class), never"
        " corpus rows; the per-day cum windows are partitioned by"
        " day over the same range-bounded grid"
    ),
    "x214_km_hazard": (
        "km_curve (the x124 kernel) walks the duration-CELL table"
        " with global windows — one row per DISTINCT inter-visit"
        " spell length, bounded by the CALENDAR span in days at any"
        " corpus size (the x124/x193 class); the corpus reduces"
        " through the distinct (user, day) collapse and the per-user"
        " lead before any global window sees a row"
    ),
    "x200_concurrency_profile": (
        "the close_level window walks the per-DAY boundary rollup —"
        " bounded by the CALENDAR (one row per day at any corpus"
        " size; the x124/x193 class); the corpus-sized sweep itself"
        " runs through the two-phase range-partitioned scan"
        " (operators/prefix.py), whose plan the eager localCheckpoint"
        " truncates out of this audit — audited at the operator level"
        " by tests/test_prefix.py plan shapes instead"
    ),
}

# Queries allowed a CartesianProduct, same auditable-justification
# contract: admissible ONLY when BOTH sides are bounded by
# construction (a constant-row table, never a corpus sample).
ALLOWED_CARTESIAN = {
    "x167_heaps_slope": (
        "the 45-pair self-join of the 10-row decile table under a"
        " CONSTANT series key — Catalyst folds the key equality away,"
        " leaving a cartesian of two 10-row sides; bounded at any"
        " corpus size (the x157 reduction emits exactly 10 rows)"
    ),
}


def _single_partition_ok(lines: list[str], i: int) -> bool:
    """A SinglePartition exchange is benign iff it merges a global
    (keyless) aggregate — its neighbour is a partial agg / its parent a
    keys=[] HashAggregate."""
    ctx = "".join(lines[max(0, i - 2): i + 3])
    return "partial_count" in ctx or "keys=[]" in ctx


def final_plan(df) -> str:
    """Run ``df`` and return the physical plan that executed. Under
    AQE, ``executedPlan`` before execution is the initial plan without
    codegen stages; after the collect its final form holds the stage
    boundaries, join switches and codegen spans as they ran."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return plan.executedPlan().toString()
    return plan.toString()


def main() -> int:
    import __spark_entry__ as entry_mod
    from m5_competition_kaggle_spark.session import get_spark

    spark = get_spark("plan_audit")
    qs = dict(entry_mod.queries())
    # staged-but-unregistered queue modules audit too, marked: their
    # plans must be scale-clean BEFORE their registration round
    from m5_competition_kaggle_spark.queries import (
        extensions_r12 as _st12,
        extensions_r13 as _st13,
        extensions_r14 as _st14,
        extensions_r15 as _st15,
        extensions_r16 as _st16,
        extensions_r17 as _st17,
        extensions_r18 as _st18,
        extensions_r19 as _st19,
        extensions_r20 as _st20,
    )
    _staged_qs = {**_st12.QUERIES, **_st13.QUERIES,
                  **_st14.QUERIES, **_st15.QUERIES,
                  **_st16.QUERIES, **_st17.QUERIES,
                  **_st18.QUERIES, **_st19.QUERIES,
                  **_st20.QUERIES}

    for k, v in _staged_qs.items():
        if k not in qs:
            qs[f"{k} (staged)"] = v
    rows = []
    flags: list[str] = []
    for name, fn in qs.items():
        try:
            plan = final_plan(fn(spark, SF))
        except Exception as e:  # a query that cannot even run is a bug
            rows.append((name, {}, f"PLAN ERROR: {e}"))
            flags.append(f"{name}: plan error {e}")
            continue
        counts = {
            k: len(re.findall(p, plan)) for k, p in PATTERNS.items()
        }
        # codegen spans: executed plans mark fused operators "*(n) Op";
        # the number of DISTINCT span ids is the fused-region count
        counts["wscg"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
        note = ""
        lines = plan.splitlines()
        bad_single = [
            i for i, ln in enumerate(lines)
            if "Exchange SinglePartition" in ln
            and not _single_partition_ok(lines, i)
        ]
        base = name.removesuffix(" (staged)")
        if counts["cart"] and base in ALLOWED_CARTESIAN:
            note = "CARTESIAN(allowed)"
        elif counts["cart"]:
            flags.append(f"{name}: CartesianProduct in plan")
            note = "CARTESIAN"
        if counts["pyudf"]:
            flags.append(f"{name}: row-at-a-time Python UDF")
            note = (note + " " if note else "") + "PY-UDF"
        if bad_single and base in ALLOWED_SINGLE_PARTITION:
            note = (note + " " if note else "") + "1-PART(allowed)"
        elif bad_single:
            flags.append(
                f"{name}: SinglePartition exchange not merging a global"
                " aggregate"
            )
            note = (note + " " if note else "") + "1-PART"
        unpart_windows = [
            ln for ln in lines
            if re.search(r"Window \[", ln)
            and "windowspecdefinition()" in ln.replace(" ", "")
        ]
        if unpart_windows:
            flags.append(f"{name}: unpartitioned window")
            note = (note + " " if note else "") + "GLOBAL-WIN"
        rows.append((name, counts, note))

    cols = [*PATTERNS, "wscg"]
    hdr = ["query", *cols, "flags"]
    out = [
        "# PLAN AUDIT — structural scale metrics per registered query",
        "",
        "Generated by `scripts/plan_audit.py` over the final (post-AQE)"
        " plans of the queries as executed at sf0.001. Columns:"
        " hash/range exchanges (shuffles),"
        " SinglePartition exchanges (benign only when merging a 1-row"
        " global aggregate), broadcast exchanges, broadcast-NL joins,"
        " CartesianProduct (never acceptable), Arrow-batched Python"
        " stages (deliberate crossings), row-at-a-time Python UDFs"
        " (never acceptable), WholeStageCodegen spans. The FLAGS column"
        " marks scale-killers; the list at the bottom must stay empty.",
        "",
        "| " + " | ".join(hdr) + " |",
        "|" + "---|" * len(hdr),
    ]
    for name, counts, note in rows:
        if counts:
            cells = [str(counts[k]) for k in cols]
        else:
            cells = ["-"] * len(cols)
        out.append(f"| {name} | " + " | ".join(cells) + f" | {note} |")
    tot = {
        k: sum(c[1].get(k, 0) for c in rows if c[1]) for k in cols
    }
    out += [
        "",
        f"Queries audited: {len(rows)}. Totals: "
        + ", ".join(f"{k}={v}" for k, v in tot.items()) + ".",
        "",
        "## Flags",
        "",
    ]
    out += [f"- {f}" for f in flags] if flags else ["(none)"]
    if ALLOWED_SINGLE_PARTITION:
        out += [
            "",
            "## Allowed single-partition exchanges (justified)",
            "",
        ] + [
            f"- **{q}**: {why}"
            for q, why in ALLOWED_SINGLE_PARTITION.items()
        ]
    if ALLOWED_CARTESIAN:
        out += [
            "",
            "## Allowed cartesian products (justified — both sides"
            " bounded by construction)",
            "",
        ] + [
            f"- **{q}**: {why}"
            for q, why in ALLOWED_CARTESIAN.items()
        ]
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLAN_AUDIT.md ({len(rows)} queries, {len(flags)} flags)")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
