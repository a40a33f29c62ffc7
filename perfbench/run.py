"""Closed-loop benchmark of the e02_spark engine over one workload.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a source tree that holds `e02_spark/`. One client
runs one declared entry at a time: each entry is built with
`fn(spark, sf_dir)` and forced with `.count()`, then
`reset_shared_state(spark)` and `gc.collect()` run before the next one,
as in `bench.py`. The engine runs at `local[<cores>]` from
`e02_spark.session.get_spark`.

A run starts the engine and runs the workload's untimed warm-up passes;
`setup_s` is the time from process start to their end. Then whole timed
passes run until their entries have taken `--seconds` in all. Each pass
visits the workload's entries in an order drawn from `--seed`. Every
entry's row count must equal the count of its DuckDB oracle twin. After
every entry no streaming query may be active, nothing may stay cached, and
no entry may read an RDD persisted before it started. In the first timed
pass one entry, picked by the seed, is also compared in full with its
oracle, after its timed `count()`.

The last line of standard output is one JSON object. With `--trace 0` it
holds the end-to-end metrics; with `--trace 1` the per-layer metrics, and
the spans and per-entry counters are written to `.perfbench_out/`.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
DATA = HERE / "data" / "sf0.01"
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
# A run must end within 180 s; past this the run is abandoned unprinted.
DEADLINE_S = 170
STREAM_THREAD = "stream execution thread for"

sys.path.insert(0, str(HERE))

from diff import quartiles  # noqa: E402
from workloads import WORKLOADS, check_partition, resolve, runnable  # noqa: E402


class Deadline(BaseException):
    """Raised by the run's alarm; a BaseException so that no `except
    Exception` in the engine can swallow it."""


@dataclass
class Pass:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    build_s: float = 0.0
    count_s: float = 0.0
    entry_s: dict = field(default_factory=dict)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAIL {what}", file=sys.stderr, flush=True)


def _configure_env(work: Path, trace: bool) -> None:
    """Keep every file the engine writes inside `work`, before the JVM
    starts."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # with the engine's 16g default the process tree grew to 7-10 GB
    # resident within one run (README.md, "What a run does")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        # per-entry windows are read after the entry: keep every job,
        # stage and execution of the largest entry in the stores
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    tmpdir = shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'}")
    args.append(f"--driver-java-options {tmpdir}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _oracle_counts(names: list[str], oracles: dict) -> dict[str, int | None]:
    """Row count of each entry's DuckDB twin; None for rows-only entries."""
    from e02_spark.oracle_check import duck_connection

    counts: dict[str, int | None] = dict.fromkeys(names)
    con = duck_connection(str(DATA))
    try:
        for name in names:
            if name in oracles:
                sql = oracles[name].strip().rstrip(";")
                counts[name] = con.execute(
                    f"SELECT count(*) FROM (\n{sql}\n) AS oracle"
                ).fetchone()[0]
    finally:
        con.close()
    return counts


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _leaks(spark) -> list[str]:
    """Streams or cached tables that survived an entry and its reset."""
    out = []
    if spark.streams.active:
        out.append(f"{len(spark.streams.active)} active streams in the session")
    threads = spark.sparkContext._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    running = [t.getName() for t in threads if t.getName().startswith(STREAM_THREAD)]
    if running:
        out.append(f"stream threads alive in the JVM: {running}")
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        out.append("cached tables survive reset_shared_state")
    return out


class Runner:
    def __init__(self, spark, names, queries, oracles, expected, tally, tracer):
        from sparkstats import StatusReader

        self.spark = spark
        self.names = names
        self.queries = queries
        self.oracles = oracles
        self.expected = expected
        self.tally = tally
        self.tracer = tracer
        self.compare = ""  # entry to compare in full with its oracle
        self.status = StatusReader(spark)
        self.seen: dict[str, int] = {}
        self.entries: list[dict] = []  # traced per-entry records

    def _check(self, name: str, n: int) -> None:
        want = self.expected[name]
        if want is not None and n != want:
            self.tally.fail(f"{name}: count {n} != oracle {want}")
        elif want is None and n == 0:
            self.tally.fail(f"{name}: rows-only entry returned 0 rows")
        elif self.seen.setdefault(name, n) != n:
            self.tally.fail(f"{name}: count changed {self.seen[name]} -> {n}")

    def _build_and_count(self, name: str, pass_no: int):
        """(DataFrame, seconds in build, row count)."""
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, str(DATA))
            build_s = time.perf_counter() - t0
            return df, build_s, df.count()
        with tr.entry(name, pass_no):
            t0 = time.perf_counter()
            with tr.span("build", "queries.build"):
                df = self.queries[name](self.spark, str(DATA))
            build_s = time.perf_counter() - t0
            with tr.span("count", "queries.count"):
                return df, build_s, df.count()

    def run_entry(self, name: str, pass_no: int, p: Pass) -> None:
        from proctree import cpu_seconds, descendants, io_bytes, python_workers, reset_peak_rss

        from e02_spark.queries import reset_shared_state

        self.tally.attempted += 1
        before = _persisted(self.spark)
        win = self.status.open()
        tree = descendants()
        if self.tracer is not None:
            workers = python_workers(tree)
            reset_peak_rss(workers)
            io0 = io_bytes(tree)
        t_epoch = time.time()
        cpu0 = cpu_seconds(tree)
        t0 = time.perf_counter()
        df = n = None
        build_s = 0.0
        try:
            df, build_s, n = self._build_and_count(name, pass_no)
        except Exception:
            traceback.print_exc()
        wall = time.perf_counter() - t0
        tree = descendants()
        p.cpu_s += cpu_seconds(tree) - cpu0
        p.build_s += build_s
        p.count_s += wall - build_s
        p.entry_s[name] = wall
        p.wall_s += wall
        if n is None:
            self.tally.fail(f"{name}: raised")
        else:
            self._check(name, n)
        if self.tracer is not None:
            self._record(name, pass_no, win, tree, workers, io0, t_epoch, t_epoch + wall)
        carried = before and before & self.status.rdds_read(win)
        if carried:
            self.tally.fail(f"{name}: read RDDs {sorted(carried)} persisted before it started")
        if df is not None and name == self.compare:
            self.compare = ""
            self._compare(name, df)
        del df
        reset_shared_state(self.spark)
        gc.collect()
        for leak in _leaks(self.spark):
            self.tally.fail(f"{name}: {leak}")

    def _compare(self, name: str, df) -> None:
        """Full result of the entry's DataFrame against its DuckDB twin."""
        from e02_spark.oracle_check import compare_query

        self.tally.attempted += 1
        try:
            res = compare_query(self.spark, name, str(DATA), lambda *_: df,
                                self.oracles.get(name))
        except Exception:
            traceback.print_exc()
            self.tally.fail(f"{name}: oracle comparison raised")
            return
        print(f"# oracle {res}", file=sys.stderr)
        if not res.ok:
            self.tally.fail(f"{name}: oracle comparison: {'; '.join(res.issues)}")

    def _record(self, name, pass_no, win, tree, workers, io0, t_start, t_end) -> None:
        """Counters of one traced entry; `tree` is the process tree at its
        end, `workers` and `io0` were taken at its start."""
        from proctree import io_bytes, peak_rss_mb, python_workers

        c = self.status.close(win, t_start, t_end)
        rows, active = self.tracer.take_stream_rows()
        if active:
            self.tally.fail(f"{name}: streaming queries still active: {active}")
        rd, wr = (b - a for a, b in zip(io0, io_bytes(tree)))
        self.entries.append({
            "entry": name, "pass": pass_no, "wall_s": t_end - t_start,
            "jobs": c.jobs, "stages": c.stages, "tasks": c.tasks,
            "sql_executions": c.sql_executions, "task_run_s": c.task_run_s,
            "task_cpu_s": c.task_cpu_s, "gc_s": c.gc_s,
            "idle_s": max(0.0, (t_end - t_start) - c.busy_s),
            "exchanges": c.exchanges, "python_nodes": c.python_nodes,
            "shuffle_write_b": c.shuffle_write_b, "shuffle_read_b": c.shuffle_read_b,
            "spill_b": c.spill_b, "skew_max": c.skew_max,
            "py_rows": c.py_rows, "py_sent_b": c.py_sent_b,
            "py_received_b": c.py_received_b, "py_boot_s": c.py_boot_s,
            "py_init_s": c.py_init_s, "py_run_s": c.py_run_s,
            "py_worker_peak_mb": peak_rss_mb(set(workers) | set(python_workers(tree))),
            "stream_queries": len(c.stream_queries),
            "stream_batches": len(c.stream_batches),
            "stream_batch_s": sum(b - a for a, b in c.stream_batches.values()),
            "stream_input_rows": rows,
            "io_read_b": rd, "io_write_b": wr,
            "missing": c.missing,
        })
        if c.missing:
            self.tally.fail(f"{name}: status store lost {c.missing[:3]}")

    def run_pass(self, rng: random.Random, pass_no: int) -> Pass:
        order = list(self.names)
        rng.shuffle(order)
        p = Pass()
        for name in order:
            self.run_entry(name, pass_no, p)
        return p


def _stop_engine() -> None:
    """Stop the SparkContext and the JVM gateway; wait for both."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _reap_children() -> None:
    """Wait for every process this run started; kill what lingers."""
    from proctree import descendants

    deadline = time.monotonic() + 15
    while True:
        left = [p for p in descendants() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def benchmark(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    _configure_env(work, trace)
    sys.path.insert(0, str(ROOT))
    from e02_spark.queries import all_oracles, all_queries
    from e02_spark.session import get_spark

    queries = all_queries()
    oracles = all_oracles()
    check_partition(list(queries))
    wl = WORKLOADS[workload]
    names = resolve(wl.timed, list(queries))

    t = time.perf_counter()
    expected = _oracle_counts(names, oracles)
    oracle_s = time.perf_counter() - t

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    tally = Tally()
    runner = Runner(spark, names, queries, oracles, expected, tally, tracer)
    rng = random.Random(seed)
    for _ in range(wl.warm_up_passes):
        runner.run_pass(rng, 0)
    runner.entries.clear()
    setup_s = time.perf_counter() - _T_PROCESS - oracle_s
    runner.compare = sorted(names)[seed % len(names)]

    # measure `seconds` of entry time: checks, resets and the full
    # comparison between entries do not count, so the number of passes
    # depends only on how long the entries take
    passes: list[Pass] = []
    while not passes or sum(p.wall_s for p in passes) < seconds:
        passes.append(runner.run_pass(rng, len(passes) + 1))

    walls = [p.wall_s for p in passes]
    q1, med, q3 = quartiles(walls)
    cpu_s = statistics.median(p.cpu_s for p in passes)
    print(f"workload {workload}: {len(names)} entries, seed {seed}, "
          f"{len(passes)} timed passes", file=sys.stderr)
    for p in passes:
        print("# pass " + " ".join(f"{n.split('_', 1)[0]}={t:.2f}" for n, t in sorted(p.entry_s.items())),
              file=sys.stderr)
    print(f"setup_s {setup_s:.3f} s")
    print(f"pass_s {med:.3f} s (q1 {q1:.3f}, q3 {q3:.3f}, n {len(walls)})")
    print(f"cpu_s {cpu_s:.3f} s")
    print(f"failure_ratio {tally.failed / tally.attempted:.4f} ({tally.failed}/{tally.attempted})")

    if not trace:
        metrics = {"pass_s": (med, "s"), "cpu_s": (cpu_s, "s"), "setup_s": (setup_s, "s")}
    else:
        from layers import layer_metrics, write_record

        metrics = layer_metrics(runner.entries, tracer, passes, names)
        path = write_record(OUT, workload, seed, metrics, runner.entries, tracer)
        print(f"trace record {path}", file=sys.stderr)
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=runnable())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def expire(signum, frame):
        raise Deadline(f"run stopped by signal {signum} (alarm: {DEADLINE_S} s)")

    signal.signal(signal.SIGALRM, expire)
    signal.signal(signal.SIGTERM, expire)
    signal.alarm(DEADLINE_S)
    work = WORK / f"run-{os.getpid()}"
    try:
        result = benchmark(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        signal.alarm(0)
        try:
            _stop_engine()
        except Exception:
            traceback.print_exc()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
