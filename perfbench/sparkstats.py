"""Per-layer counts read from Spark's own status stores.

Every read happens after the traced operation has returned, so none of it
is inside a timed interval. The caller tags each operation phase with a
job group; ``job_stage_totals`` sums the stage data of a group's jobs from
the core status store (it works with the UI off); ``SqlCursor.python_io``
reads the Python exchange metrics of the SQL executions an operation
started; ``persisted`` reads the block manager's view of persisted RDDs.
"""

from __future__ import annotations

import re

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes",
)
PY_FIELDS = ("rows_to_python", "bytes_to_python", "bytes_from_python")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def _drain(sc) -> None:
    # the status stores are fed by an asynchronous listener bus; wait
    # until it has delivered every event of the finished operation
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def job_stage_totals(sc, group: str) -> dict[str, float]:
    """Sum the stage attempts of every job in ``group``, skipping stages
    that ran no task (skipped stages re-listed by later jobs)."""
    _drain(sc)
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty_q = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen = set()
    tracker = sc.statusTracker()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            it = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, empty_q
            ).iterator()
            while it.hasNext():
                sd = it.next()
                ran = sd.numCompleteTasks() + sd.numFailedTasks()
                if ran == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += ran
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                )
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
    return out


def job_count(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric: '1,234', '3.1 MiB' or the
    'total (min, med, max ...)\\n<total> (...)' form."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _SIZE.match(line.strip())
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.match(r"[\d,]+", line.strip())
    return float(m.group(0).replace(",", "")) if m else 0.0


class SqlCursor:
    """Walks the SQL executions started since ``mark`` or the previous
    ``python_io`` call."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.sc = spark.sparkContext
        self.mark()

    def mark(self) -> None:
        _drain(self.sc)
        self.seen = self.store.executionsCount()

    def python_io(self) -> dict[str, float]:
        _drain(self.sc)
        out = dict.fromkeys(PY_FIELDS, 0.0)
        n = self.store.executionsCount()
        it = self.store.executionsList(self.seen, n - self.seen).iterator()
        self.seen = n
        while it.hasNext():
            eid = it.next().executionId()
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            nodes, child_of = {}, {}
            ni = graph.allNodes().iterator()
            while ni.hasNext():
                node = ni.next()
                ms = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    v = values.get(pm.accumulatorId())
                    ms[pm.name()] = v.get() if v.isDefined() else None
                nodes[node.id()] = ms
            ei = graph.edges().iterator()
            while ei.hasNext():
                edge = ei.next()
                child_of.setdefault(edge.toId(), []).append(edge.fromId())
            for nid, ms in nodes.items():
                if "data sent to Python workers" not in ms:
                    continue
                out["bytes_to_python"] += _metric_value(
                    ms["data sent to Python workers"])
                out["bytes_from_python"] += _metric_value(
                    ms.get("data returned from Python workers"))
                out["rows_to_python"] += _rows_below(nid, nodes, child_of)
        return out


def _rows_below(nid, nodes, child_of) -> float:
    """Rows fed to a Python node: the row count of the nearest counted
    node on its input chain (sorts and shuffle reads carry none)."""
    for _ in range(8):
        kids = child_of.get(nid, [])
        if len(kids) != 1:
            return 0.0
        nid = kids[0]
        ms = nodes.get(nid, {})
        for key in ("number of output rows", "records read"):
            if ms.get(key):
                return _metric_value(ms[key])
    return 0.0


def persisted(sc) -> tuple[int, int]:
    """(RDDs holding blocks, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
