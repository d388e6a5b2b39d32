"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload vector_graph_mix --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. The process drives the engine only through
its public entry points (``session.get_spark``, the query registry of
``__spark_entry__``, ``plans.m5_pipeline``/``m5_eval`` and
``ml.train``/``predict``) on a ``local[4]`` session. A run:

1. sets up: JVM launch and session start (with every option
   ``get_spark`` sets), seeded input generation and a first scan (row
   count) of every input;
2. runs one checked pass: every operation's output is compared with an
   independent expectation (DuckDB oracle or numpy). This pass is also
   the untimed warm-up of every plan. ``setup_s`` spans process start to
   the end of this pass, when the first timed operation starts, so work
   moved out of timed passes into set-up or warm-up shows in it;
3. runs whole passes over the workload, one operation at a time (closed
   loop, one client), until ``--seconds`` have elapsed and at least
   ``MIN_PASSES`` passes have run; ``wall_s`` is the median pass wall,
   ``cpu_s`` the median CPU time the process tree used in a pass.
   With ``--trace 1`` it alternates untraced and traced passes, ending on
   an untraced one; traced passes tag every phase with a job group and
   read Spark's status stores after it.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics (end-to-end with ``--trace 0``, per-layer with
``--trace 1``), each with its unit. The line before it carries the run's
context. Full results and trace spans go to
``.perfbench/results/<workload>-seed<n>-trace<t>.json``; generated inputs
live under ``.perfbench/`` while the run lasts and are removed after it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
MIN_PASSES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot. On a
    virtual machine, other tenants of the host take CPU in bursts (a fifth
    to a third of every core for tens of seconds, measured), which can
    double a pass's wall time; each pass records the stolen share so that
    a slow run can be told from a slow engine."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def process_tree() -> dict[int, str]:
    """This process and all its descendants (the JVM and the Python
    workers it forks), as pid -> command name, read from /proc."""
    parent, name = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        parent[int(pid)] = int(rest.split()[1])
        name[int(pid)] = head.split("(", 1)[1]
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.update(kids)
        frontier += kids
    return {pid: name[pid] for pid in tree}


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree: its live processes and
    the children they have reaped (Python workers that exited). Time taken
    by other tenants of the host is not in it, unlike wall time."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # u/s time, children's
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, period=0.1):
        super().__init__(daemon=True)
        self.period, self.peak, self.peak_by = period, 0, {}
        self.halt = threading.Event()

    def sample(self) -> dict[str, int]:
        by: dict[str, int] = {}
        for pid, name in process_tree().items():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self.PAGE
            except OSError:
                continue
            by[name] = by.get(name, 0) + rss
        return by

    def run(self):
        while not self.halt.is_set():
            by = self.sample()
            if sum(by.values()) > self.peak:
                self.peak, self.peak_by = sum(by.values()), by
            self.halt.wait(self.period)

    def stop(self) -> int:
        self.halt.set()
        self.join()
        return self.peak


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


class Tracer:
    """Spans around each call into a layer, plus status-store counts."""

    def __init__(self, spark, workload: str):
        import sparkstats

        self.spark, self.sc, self.workload = spark, spark.sparkContext, workload
        self.stats = sparkstats
        self.sql = sparkstats.SqlCursor(spark)
        self.spans: list[dict] = []

    def span(self, name, start, end, parent=None) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start - T_START, "end": end - T_START,
                           "parent": parent})
        return len(self.spans) - 1

    def group(self, pass_no, op, phase) -> str:
        g = f"{self.workload}/{pass_no}/{op}/{phase}"
        self.sc.setJobGroup(g, g)
        return g

    def counts(self, groups) -> dict[str, float]:
        st = self.stats
        out = dict.fromkeys(st.STAGE_FIELDS, 0.0)
        for g in groups.values():
            for k, v in st.job_stage_totals(self.sc, g).items():
                out[k] += v
        out["build_jobs"] = st.job_count(self.sc, groups["build"])
        out["sink_jobs"] = st.job_count(self.sc, groups["sink"])
        out.update(self.sql.python_io())
        out["persisted_rdds"], out["persisted_bytes"] = st.persisted(self.sc)
        return out


def run_pass(spark, wl, pass_no, tracer=None):
    """One pass over the workload's operations. Returns its wall seconds,
    the CPU seconds the process tree used, the share of the machine's CPU
    stolen meanwhile and its op records;
    each record holds the op name, build and sink seconds, an error string
    and, when traced, its status-store counts. The pass wall excludes the
    status-store reads, which run between operations."""
    records = []
    reads = 0.0
    if tracer:
        tracer.sql.mark()
    stolen0, total0 = cpu_ticks()
    cpu0 = tree_cpu_s()
    t_pass = time.perf_counter()
    for op in wl.ops():
        rec = {"op": op, "error": None}
        groups = {}
        t0 = time.perf_counter()
        try:
            if tracer:
                groups["build"] = tracer.group(pass_no, op, "build")
            df = wl.build(spark, op)
            t1 = time.perf_counter()
            if tracer:
                groups["sink"] = tracer.group(pass_no, op, "sink")
            wl.sink(spark, op, df)
            t2 = time.perf_counter()
        except Exception as e:  # counted as a failed operation
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            t1 = t2 = time.perf_counter()
        rec["build_s"], rec["sink_s"] = t1 - t0, t2 - t1
        if tracer:
            sc = spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["spans"] = (t0, t1, t2)
            if len(groups) == 2:
                rec["counts"] = tracer.counts(groups)
            reads += time.perf_counter() - t2
        records.append(rec)
    t_end = time.perf_counter()
    cpu1 = tree_cpu_s()
    stolen1, total1 = cpu_ticks()
    wall = t_end - t_pass - reads
    wl.end_pass(spark)
    if tracer:
        pid = tracer.span(f"pass/{pass_no}", t_pass, t_end)
        for r in records:
            t0, t1, t2 = r.pop("spans")
            oid = tracer.span(f"op/{r['op']}", t0, t2, pid)
            tracer.span("build", t0, t1, oid)
            tracer.span("sink", t1, t2, oid)
    return {"wall_s": wall, "cpu_s": cpu1 - cpu0,
            "steal": (stolen1 - stolen0) / max(total1 - total0, 1),
            "ops": records}


def layer_metrics(traced, untraced, session_s, peak_rss, wl):
    """Per-layer metrics: the median over traced passes of each per-pass
    total."""
    per_pass = []
    for p in traced:
        wall, recs = p["wall_s"], p["ops"]
        # operations that raised have no counts; a count no operation
        # reported reads as 0
        c = collections.Counter()
        for r in recs:
            c.update(r.get("counts", {}))
        by_op = {r["op"]: r["build_s"] + r["sink_s"] for r in recs}
        m = {
            "queries.build_s": sum(r["build_s"] for r in recs),
            "queries.sink_s": sum(r["sink_s"] for r in recs),
            "queries.build_jobs": c["build_jobs"],
            "queries.sink_jobs": c["sink_jobs"],
            "spark.core_busy": c["executor_run_s"] / (wall * CPUS),
            "blocks.persisted_rdds": c["persisted_rdds"],
            "blocks.persisted_bytes": c["persisted_bytes"],
            "arrow.rows_to_python": c["rows_to_python"],
            "arrow.bytes_to_python": c["bytes_to_python"],
            "arrow.bytes_from_python": c["bytes_from_python"],
            "plans.features_s": by_op.get("features", 0.0),
            "plans.eval_s": by_op.get("eval", 0.0),
            "ml.train_s": by_op.get("train", 0.0),
            "ml.predict_s": by_op.get("predict", 0.0),
            "sources.input_bytes": c["input_bytes"],
            "sources.bytes_written": c["output_bytes"],
            "sources.write_amp": (c["output_bytes"] / c["input_bytes"]
                                  if c["input_bytes"] else 0.0),
        }
        for k in ("stages", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}"] = c[k]
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.start_s"] = session_s
    out["memory.peak_rss_mb"] = peak_rss / 2**20
    out["ml.models"] = wl.results.get("models", 0)
    out["ml.train_rows"] = wl.results.get("train_rows", 0)
    out["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in untraced)
    )
    return out


def load_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    units = load_units()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: "
                         f"{sorted(workloads.WORKLOADS)}")
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    spark = None
    try:
        from m5_competition_kaggle_spark.session import get_spark

        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        t_sess = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS)
        t_gen = time.perf_counter()
        input_bytes = wl.generate()
        t_scan = time.perf_counter()
        for path in wl.inputs():
            spark.read.parquet(path).count()
        t_check = time.perf_counter()
        failures = wl.check(spark)
        t_end = time.perf_counter()
        setup_s = t_end - T_START
        session_s = t_gen - t_sess
        attempted = len(wl.ops())

        tracer = None
        if args.trace:
            tracer = Tracer(spark, args.workload)
            sid = tracer.span("setup", T_START, t_end)
            for child in (("session", t_sess, t_gen),
                          ("generate", t_gen, t_scan),
                          ("scan", t_scan, t_check),
                          ("check", t_check, t_end)):
                tracer.span(*child, sid)
        # the sampler scans /proc in this process, so it runs only when
        # its figure is reported: in traced runs, where it is per-layer
        sampler = RssSampler() if args.trace else None
        if sampler:
            sampler.start()
        untraced, traced = [], []
        deadline = time.perf_counter() + args.seconds
        pass_no = 0
        while True:
            use_trace = bool(tracer) and pass_no % 2 == 1
            res = run_pass(spark, wl, pass_no, tracer if use_trace else None)
            (traced if use_trace else untraced).append(res)
            pass_no += 1
            # a traced run ends on an untraced pass, so the traced pass is
            # compared with untraced ones on both sides of it
            enough = len(untraced) >= MIN_PASSES and (
                traced or not args.trace)
            if enough and time.perf_counter() >= deadline:
                break
        peak_rss = sampler.stop() if sampler else None
        conf_partitions = spark.conf.get("spark.sql.shuffle.partitions")
        driver_memory = spark.conf.get("spark.driver.memory")
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    passes = untraced + traced
    recs = [r for p in passes for r in p["ops"]]
    errors = [(r["op"], r["error"]) for r in recs if r["error"]]
    attempted += len(recs)
    failed = len(failures) + len(errors)
    ok = [[r["build_s"] + r["sink_s"] for r in p["ops"] if not r["error"]]
          for p in untraced]
    lat = [x for xs in ok for x in xs]
    # wall time goes with the host's contention (a pass's wall doubled when
    # other tenants took a fifth of the CPU), so the bounded end-to-end
    # metrics are set-up time and CPU time; wall and latencies are reported
    # with the layers
    timing = {
        "wall_s": statistics.median(p["wall_s"] for p in untraced),
        "queries.op_p50_s": statistics.median(lat) if lat else 0.0,
        # a run holds too few operations for a percentile with ten samples
        # beyond it: the tail is each pass's slowest operation, median
        # over passes
        "queries.op_tail_s": statistics.median(max(xs) for xs in ok if xs)
        if lat else 0.0,
    }
    metrics = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
    }
    if args.trace:
        metrics = layer_metrics(traced, untraced, session_s, peak_rss, wl)
        metrics.update(timing)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus_box": os.cpu_count(),
        "cpus_spark": CPUS,
        "shuffle_partitions": int(conf_partitions),
        "driver_memory": driver_memory,
        "load1": round(os.getloadavg()[0], 2),
        "passes_untraced": len(untraced),
        "passes_traced": len(traced),
        "steal_by_pass": [round(p["steal"], 4) for p in passes],
        "op_samples": len(lat),
        "wall_s": timing["wall_s"],
        "op_p50_s": timing["queries.op_p50_s"],
        "op_tail_s": timing["queries.op_tail_s"],
        "peak_rss_mb": peak_rss / 2**20 if sampler else None,
        "peak_rss_mb_by_process": {k: round(v / 2**20) for k, v in
                                   sampler.peak_by.items()}
        if sampler else None,
        "session_start_s": round(session_s, 4),
        "input_bytes_generated": input_bytes,
        "check_s": round(t_end - t_check, 3),
        "failed_frac": failed / attempted,
        "failures": (failures + errors)[:20],
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    out_dir = os.path.join(state, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"context": context, "result": result,
                   "spans": tracer.spans if tracer else [],
                   "passes": passes},
                  f, indent=1, default=str)
    print(json.dumps(context, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
