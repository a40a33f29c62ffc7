"""Per-entry counters read from Spark's own status stores over py4j.

Everything here is windowed by ID, never by list size: an entry's jobs are
the job IDs the DAG scheduler handed out while it ran (`numTotalJobs()`
before and after), its stages are the stages of those jobs, and its SQL
executions are the execution IDs handed out after it started.
Because the window is taken on the shared SparkContext, work submitted from
cloned sessions and from the engine's thread pools is included.

Plans are read from the SQL status store's plan graph, which holds the
final adaptive plan, so eager parts of an entry (commits, stream batches)
are counted as well as the final `count()`.
"""

from __future__ import annotations

import html
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Python-crossing SQL metrics (PythonSQLMetrics). A plan node that carries
# them is a Python node, whatever its operator name.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"

_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_NAME = re.compile(r"<b>(.*?)</b>")
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_TOTAL = " total (min, med, max (stageId: taskId))"
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_RUN_ID = re.compile(r"runId = (\S+)")
_BATCH = re.compile(r"batch = (\d+)")


def _number(text: str) -> float:
    """A formatted SQL metric value ('1,204', '12.5 KiB', '3.1 s') in base
    units (count, bytes or seconds)."""
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric: value}) for every node of a plan-graph dot
    rendering with metric values filled in."""
    nodes = []
    for label in _NODE.findall(dot):
        label = html.unescape(label.replace('\\"', '"'))
        name_m = _NAME.search(label)
        parts = [p for p in label.split("<br>") if p and not p.startswith("<b>")]
        metrics: dict[str, float] = {}
        i = 0
        while i < len(parts):
            seg = parts[i]
            if seg.endswith(_TOTAL) and i + 1 < len(parts):
                metrics[seg[: -len(_TOTAL)]] = _number(parts[i + 1])
                i += 2
                continue
            key, sep, val = seg.rpartition(": ")
            if sep:
                metrics[key] = _number(val)
            i += 1
        nodes.append((name_m.group(1) if name_m else "", metrics))
    return nodes


@dataclass
class Window:
    """Status-store watermarks taken just before an entry starts."""

    next_job: int
    last_execution: int


@dataclass
class EntryCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    sql_executions: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    busy_s: float = 0.0
    exchanges: int = 0
    python_nodes: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    skew_max: float = 0.0
    py_rows: int = 0
    py_sent_b: float = 0.0
    py_received_b: float = 0.0
    py_boot_s: float = 0.0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    stream_queries: set = field(default_factory=set)
    stream_batches: dict = field(default_factory=dict)
    missing: list = field(default_factory=list)


class StatusReader:
    """Reads one SparkContext's status stores."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = self._scan_executions(-1)[1]
        q = self._gateway.new_array(self._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def drain(self) -> None:
        """Wait until every posted scheduler event reached the stores."""
        self._bus.waitUntilEmpty(60_000)

    def open(self) -> Window:
        """Watermarks before an entry; work run since the last `close`
        (checks between entries) is skipped, not charged to the entry."""
        self.drain()
        self._last_execution = self._scan_executions(self._last_execution)[1]
        return Window(self._dag.numTotalJobs(), self._last_execution)

    def rdds_read(self, win: Window) -> set[int]:
        """IDs of the RDDs in the lineage of every stage run since `win`."""
        self.drain()
        out: set[int] = set()
        for jid in range(win.next_job, self._dag.numTotalJobs()):
            try:
                sids = self._store.job(jid).stageIds()
            except Py4JJavaError:  # evicted from the store
                continue
            for i in range(sids.size()):
                try:
                    rdds = self._store.lastStageAttempt(sids.apply(i)).rddIds()
                except Py4JJavaError:
                    continue
                out.update(rdds.apply(k) for k in range(rdds.size()))
        return out

    def _scan_executions(self, after: int) -> tuple[list[int], int]:
        """Execution IDs above `after` present in the store. IDs are
        handed out in order, so the scan stops after a run of misses."""
        ids, eid, misses = [], after + 1, 0
        while misses < 8:
            if self._sql.execution(eid).isDefined():
                ids.append(eid)
                misses = 0
            else:
                misses += 1
            eid += 1
        return ids, (ids[-1] if ids else after)

    def close(self, win: Window, t_start: float, t_end: float) -> EntryCounters:
        """Counters for everything that ran between `open` and now; the
        entry ran from `t_start` to `t_end` (epoch seconds)."""
        self.drain()
        out = EntryCounters()
        next_job = self._dag.numTotalJobs()
        out.jobs = next_job - win.next_job
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(win.next_job, next_job):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store: counted, not read
                out.missing.append(f"job {jid}")
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                intervals.append((a, b))
            else:
                a = b = None
            sids = job.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
            desc = job.description()
            if desc.isDefined():
                self._stream_job(out, desc.get(), a, b)
        out.busy_s = covered(intervals, t_start, t_end)
        for sid in sorted(stage_ids):
            self._stage(out, sid)
        ids, self._last_execution = self._scan_executions(win.last_execution)
        out.sql_executions = len(ids)
        for eid in ids:
            self._execution(out, eid)
        return out

    @staticmethod
    def _stream_job(out: EntryCounters, desc: str, a, b) -> None:
        run = _RUN_ID.search(desc)
        batch = _BATCH.search(desc)
        if not run or not batch:
            return
        out.stream_queries.add(run.group(1))
        key = (run.group(1), int(batch.group(1)))
        if a is not None:
            lo, hi = out.stream_batches.get(key, (a, b))
            out.stream_batches[key] = (min(lo, a), max(hi, b))
        else:
            out.stream_batches.setdefault(key, (0.0, 0.0))

    def _stage(self, out: EntryCounters, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            out.missing.append(f"stage {sid}")
            return
        if st.status().toString() == "SKIPPED":
            return
        out.stages += 1
        out.tasks += st.numTasks()
        out.task_run_s += st.executorRunTime() / 1e3
        out.task_cpu_s += st.executorCpuTime() / 1e9
        out.gc_s += st.jvmGcTime() / 1e3
        read = st.shuffleReadBytes()
        out.shuffle_read_b += read
        out.shuffle_write_b += st.shuffleWriteBytes()
        out.spill_b += st.diskBytesSpilled()
        if st.numTasks() >= 4 and read > 0:
            summ = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
            if summ.isDefined():
                q = summ.get().shuffleReadMetrics().readBytes()
                med, top = q.apply(0), q.apply(1)
                if med > 0:
                    out.skew_max = max(out.skew_max, top / med)

    def _execution(self, out: EntryCounters, eid: int) -> None:
        graph = self._sql.planGraph(eid)
        dot = graph.makeDotFile(self._sql.executionMetrics(eid))
        for name, metrics in parse_plan_graph(dot):
            if name == "Exchange":
                out.exchanges += 1
            if PY_SENT in metrics or PY_RUN in metrics:
                out.python_nodes += 1
                out.py_rows += int(metrics.get(PY_ROWS, 0))
                out.py_sent_b += metrics.get(PY_SENT, 0.0)
                out.py_received_b += metrics.get(PY_RECEIVED, 0.0)
                out.py_boot_s += metrics.get(PY_BOOT, 0.0)
                out.py_init_s += metrics.get(PY_INIT, 0.0)
                out.py_run_s += metrics.get(PY_RUN, 0.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
