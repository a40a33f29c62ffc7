"""Tests of the benchmark's own measuring code.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The Spark tests pin the counters of small known queries, so a change in how
the benchmark windows jobs, stages and plans shows up here first.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import diff  # noqa: E402
import proctree  # noqa: E402
from sparkstats import StatusReader, covered, parse_plan_graph  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import check_partition, runnable  # noqa: E402

DOT = r'''digraph G {
  0 [id="node0" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="x"];
  3 [id="node3" labelType="html" label="<b>Exchange</b><br><br>records read: 1,204<br>data size total (min, med, max (stageId: taskId))<br>2.0 KiB (112.0 B, 112.0 B, 112.0 B (stage 0.0: task 1))" tooltip="Exchange SinglePartition"];
  5 [id="node5" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>1.5 s (10 ms, 20 ms, 1.2 s (stage 1.0: task 4))<br>data sent to Python workers: 3.0 MiB<br>number of output rows: 1,000" tooltip="MapInPandas"];
}'''


def test_parse_plan_graph_reads_names_and_metric_totals():
    nodes = dict(parse_plan_graph(DOT))
    assert set(nodes) == {"AdaptiveSparkPlan", "Exchange", "MapInPandas"}
    assert nodes["Exchange"] == {"records read": 1204.0, "data size": 2048.0}
    assert nodes["MapInPandas"] == {
        "time to run Python workers": 1.5,
        "data sent to Python workers": 3 * 1024 * 1024,
        "number of output rows": 1000.0,
    }


def test_covered_is_the_union_clipped_to_the_window():
    assert covered([(1, 3), (2, 4), (6, 7), (9, 12)], 0, 10) == pytest.approx(3 + 1 + 1)
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    with tr.entry("q00_x", 1):
        with tr.span("outer", "ops.a"):
            with tr.span("inner", "ops.b"):
                time.sleep(0.02)
            time.sleep(0.02)
    own = dict(zip((s.name for s in tr.spans), tr.self_times()))
    outer = next(s for s in tr.spans if s.name == "outer")
    assert own["inner"] == pytest.approx(0.02, abs=0.015)
    assert own["outer"] == pytest.approx(0.02, abs=0.015)
    assert own["outer"] < outer.end - outer.start
    assert {s.entry for s in tr.spans} == {"q00_x#1"}


def test_worker_thread_spans_belong_to_the_running_entry():
    tr = Tracer()
    with tr.entry("q00_x", 2):
        with ThreadPoolExecutor(2) as ex:
            ex.submit(lambda: _in_span(tr, "part")).result()
    part = next(s for s in tr.spans if s.name == "part")
    root = next(i for i, s in enumerate(tr.spans) if s.layer == "entry")
    assert part.entry == "q00_x#2" and part.parent == root


def _in_span(tr: Tracer, name: str) -> None:
    with tr.span(name, "ops.p"):
        pass


def test_install_wraps_module_attribute_and_from_import_bindings():
    import e02_spark.queries  # noqa: F401  (imports every query module)
    from e02_spark.ops import snapshot
    from e02_spark.queries import streaming_q

    bound = [n for n, v in vars(streaming_q).items()
             if callable(v) and getattr(v, "__module__", "") == "e02_spark.streaming.jobs"
             and not n.startswith("_")]
    assert bound, "streaming_q binds streaming.jobs functions at module level"
    original = vars(streaming_q)[bound[0]]
    tr = Tracer()
    try:
        tr.install()
        assert vars(streaming_q)[bound[0]] is not original
        assert vars(streaming_q)[bound[0]].__wrapped__ is original
        assert snapshot.snapshot_merge.__wrapped__.__module__ == "e02_spark.ops.snapshot"
    finally:
        tr.uninstall()
    assert vars(streaming_q)[bound[0]] is original
    assert not hasattr(snapshot.snapshot_merge, "__wrapped__")


def test_groups_partition_every_declared_entry():
    from e02_spark.queries import all_queries

    check_partition(list(all_queries()))


def test_partition_check_rejects_a_missing_entry():
    with pytest.raises(ValueError):
        check_partition(["q01_x", "q999_not_declared"])


def test_cpu_seconds_sees_this_process_burn_cpu():
    before = proctree.cpu_seconds(proctree.descendants())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert proctree.cpu_seconds(proctree.descendants()) - before >= 0.25


def _record(jobs: int, wall: float) -> dict:
    entry = {"entry": "q01_x", "pass": 1, "jobs": jobs, "stages": 2, "exchanges": 1,
             "python_nodes": 0, "py_rows": 0, "stream_batches": 0,
             "stream_queries": 0, "ops_calls": {"ops.text": 3}, "tasks": 4,
             "wall_s": wall}
    return {"metrics": {"queries.pass_s": {"value": wall, "unit": "s"}}, "entries": [entry]}


def test_diff_flags_counter_changes_and_passes_same_counters(tmp_path):
    out = tmp_path / "out.txt"
    with open(out, "w") as f:
        assert diff.diff([_record(3, 1.0)], [_record(3, 1.4)], out=f) == 0
        assert diff.diff([_record(3, 1.0)], [_record(4, 1.0)], out=f) == 1
    text = out.read_text()
    assert "CHANGED q01_x jobs: ['3'] -> ['4']" in text
    assert "tasks not compared exactly" in text
    paths = []
    for i, rec in enumerate((_record(3, 1.0), _record(3, 1.1))):
        paths.append(tmp_path / f"r{i}.json")
        paths[-1].write_text(json.dumps(rec))
    assert diff.main(["--base", str(paths[0]), "--new", str(paths[1])]) == 0


def test_diff_compares_stream_timed_counters_by_median_only(tmp_path):
    base, new = _record(3, 1.0), _record(5, 1.0)
    for rec in (base, new):
        rec["entries"][0]["stream_queries"] = 1
    new["entries"][0]["stages"] = 9
    new["entries"][0]["stream_batches"] = 2
    out = tmp_path / "out.txt"
    with open(out, "w") as f:
        assert diff.diff([base], [new], out=f) == 1
    text = out.read_text()
    assert "q01_x jobs not compared exactly (streams)" in text
    assert "CHANGED q01_x stages" not in text
    assert "CHANGED q01_x stream_batches: ['0'] -> ['2']" in text


# -- Spark ---------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from e02_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _grouped_count(session) -> int:
    from pyspark.sql import functions as F

    df = session.range(0, 1000, 1, 8).groupBy((F.col("id") % 7).alias("k")).count()
    return df.count()


def _counters(spark, run):
    reader = StatusReader(spark)
    win = reader.open()
    t0 = time.time()
    run()
    return reader.close(win, t0, time.time())


def test_known_query_counters_are_pinned(spark):
    c = _counters(spark, lambda: _grouped_count(spark))
    # AQE submits each shuffle stage as its own job: the map side of the
    # groupBy, the map side of count()'s exchange, then the result stage
    assert (c.jobs, c.stages, c.exchanges) == (3, 3, 2)
    assert c.python_nodes == 0 and c.sql_executions == 1
    assert c.tasks == 8 + 1 + 1
    assert 0 < c.busy_s and not c.missing


def test_counters_repeat_and_include_clone_sessions_and_threads(spark):
    first = _counters(spark, lambda: _grouped_count(spark))

    def in_clone_and_thread():
        with ThreadPoolExecutor(1) as ex:
            ex.submit(_grouped_count, spark.newSession()).result()

    clone = _counters(spark, in_clone_and_thread)
    assert (clone.jobs, clone.stages, clone.exchanges) == (first.jobs, first.stages, first.exchanges)


def test_python_crossing_is_counted(spark):
    c = _counters(spark, lambda: spark.range(0, 100, 1, 2)
                  .mapInPandas(lambda it: it, schema="id long").count())
    assert c.python_nodes == 1
    assert c.py_rows == 100
    assert c.py_sent_b > 0 and c.py_run_s > 0


def test_rdds_read_sees_a_persisted_rdd_reused(spark):
    df = spark.range(0, 100, 1, 2).persist()
    df.count()
    try:
        persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        reader = StatusReader(spark)
        win = reader.open()
        df.groupBy().count().collect()
        assert persisted & reader.rdds_read(win)
    finally:
        df.unpersist()


def test_benchmark_json_matches_the_code():
    from layers import metric_names

    with open(HERE.parent / "BENCHMARK.json") as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == metric_names()
    assert [w["name"] for w in spec["workloads"]] == runnable()
    assert {m["name"] for m in spec["end_to_end"]} == {"pass_s", "cpu_s", "setup_s"}
