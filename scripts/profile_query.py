"""Per-query profiler for the optimization rounds (guide §1).

For each named query: with ``--plans-dir``, run it once and write the
physical plan that executed (the final adaptive plan, via
``plan_audit.final_plan``) to a file; then time the noop-sink
execution (best of N reps, cache cleared between reps — the bench
methodology), optionally recording per-job wall
times via the status tracker so multi-job plans (localCheckpoint,
broadcast builds, convergence loops) are attributable. Each rep also
reports how many classes Janino compiled and how long that took (deltas
of Spark's codegen counters, read outside the timed region): a rep that
recompiles code an earlier rep generated shows its generated-code cache
is too small.

Usage:
  python scripts/profile_query.py x140_pinball x129_bootstrap_ci
  python scripts/profile_query.py --plans-dir plans/r14 --tag before x140_pinball
  python scripts/profile_query.py --reps 3 --all-top 30   # slowest 30 from BENCH.local.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default=None, help="write the executed plan here")
    ap.add_argument("--tag", default=None, help="suffix for plan files, e.g. before/after")
    ap.add_argument("--all-top", type=int, default=0, help="profile the N slowest from BENCH.local.json")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from m5_competition_kaggle_spark.session import get_spark
    from plan_audit import final_plan

    qs = entry_mod.queries()
    names = list(args.names)
    if args.all_top:
        bench = json.load(open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.local.json")))
        top = sorted(bench["queries"].items(), key=lambda kv: -kv[1])[: args.all_top]
        names += [k for k, _ in top if k not in names]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown)
        return 2

    spark = get_spark("profile")
    sc = spark.sparkContext
    codegen_metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    code_generator = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def compile_counters() -> tuple[int, int]:
        """(Janino compiles, compile nanoseconds) so far in this JVM."""
        return (
            codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            code_generator.compileTime(),
        )

    # warm-up
    qs["q1_filter_project"](spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    results = {}
    for name in names:
        fn = qs[name]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = final_plan(fn(spark, args.sf_dir))
            suffix = f"_{args.tag}" if args.tag else ""
            with open(os.path.join(args.plans_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(plan)
        best = float("inf")
        per_rep, compiles, compile_ms = [], [], []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            sc.setJobDescription(name)
            n0, ns0 = compile_counters()
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            n1, ns1 = compile_counters()
            per_rep.append(round(dt, 3))
            compiles.append(n1 - n0)
            compile_ms.append(round((ns1 - ns0) / 1e6))
            best = min(best, dt)
        sc.setJobDescription(None)
        results[name] = round(best, 3)
        print(
            f"{best:7.3f}  {name}  reps={per_rep}  compiles={compiles}  "
            f"compile_ms={compile_ms}",
            flush=True,
        )
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
