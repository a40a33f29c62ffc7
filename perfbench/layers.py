"""Per-layer metrics of a traced run, and the record it leaves behind.

Every per-entry counter is summed over the entries of one timed pass and
the median over timed passes is reported. The record written next to the
metrics keeps each entry's counters and every span, so that two runs can be
compared entry by entry (see diff.py).
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

from spans import OPS_LAYERS
from workloads import WORKLOADS

MIB = 1024 * 1024

# metric -> (per-entry field, unit, scale). Fields that read 0 in every
# measured run have no metric but stay in the per-entry record: at this
# data size nothing spills (spill_b), the Python workers of the warm-up
# passes are reused (py_boot_s), and reads come from the page cache
# (io_read_b).
ENTRY_SUMS = {
    "spark.jobs": ("jobs", "count", 1),
    "spark.stages": ("stages", "count", 1),
    "spark.tasks": ("tasks", "count", 1),
    "spark.sql_executions": ("sql_executions", "count", 1),
    "spark.task_run_s": ("task_run_s", "s", 1),
    "spark.task_cpu_s": ("task_cpu_s", "s", 1),
    "spark.gc_s": ("gc_s", "s", 1),
    "spark.idle_s": ("idle_s", "s", 1),
    "plan.exchanges": ("exchanges", "count", 1),
    "plan.python_nodes": ("python_nodes", "count", 1),
    "shuffle.write_mb": ("shuffle_write_b", "MiB", 1 / MIB),
    "shuffle.read_mb": ("shuffle_read_b", "MiB", 1 / MIB),
    "python.rows_out": ("py_rows", "count", 1),
    "python.sent_mb": ("py_sent_b", "MiB", 1 / MIB),
    "python.received_mb": ("py_received_b", "MiB", 1 / MIB),
    "python.init_s": ("py_init_s", "s", 1),
    "python.run_s": ("py_run_s", "s", 1),
    "stream.queries": ("stream_queries", "count", 1),
    "stream.batches": ("stream_batches", "count", 1),
    "stream.batch_s": ("stream_batch_s", "s", 1),
    "stream.input_rows": ("stream_input_rows", "count", 1),
    "io.write_mb": ("io_write_b", "MiB", 1 / MIB),
}
# per-entry maxima rather than sums
ENTRY_MAXES = {
    "shuffle.skew_max": ("skew_max", "ratio"),
    "python.worker_peak_mb": ("py_worker_peak_mb", "MiB"),
}
TIMED_ENTRIES = sorted({e for w in WORKLOADS.values() for e in w.timed})
# only the untimed q86 calls ops.export, so its metrics would always read 0
METRIC_OPS_LAYERS = tuple(m for m in OPS_LAYERS if m != "ops.export")


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = ["queries.pass_s", "queries.build_s", "queries.count_s"]
    names += [f"entry.{e}_s" for e in TIMED_ENTRIES]
    names += list(ENTRY_SUMS) + list(ENTRY_MAXES)
    for layer in METRIC_OPS_LAYERS:
        names += [f"{layer}.calls", f"{layer}.self_s"]
    return names


def layer_metrics(entries: list[dict], tracer, passes, names: list[str]) -> dict:
    """{metric: (value, unit)} over the timed passes."""
    med = statistics.median
    out: dict[str, tuple[float, str]] = {
        "queries.pass_s": (med(p.wall_s for p in passes), "s"),
        "queries.build_s": (med(p.build_s for p in passes), "s"),
        "queries.count_s": (med(p.count_s for p in passes), "s"),
    }
    for short in TIMED_ENTRIES:
        full = [n for n in names if n.split("_", 1)[0] == short]
        value = med(p.entry_s[full[0]] for p in passes) if full else 0.0
        out[f"entry.{short}_s"] = (value, "s")
    by_pass: dict[int, list[dict]] = {}
    for e in entries:
        by_pass.setdefault(e["pass"], []).append(e)
    for metric, (key, unit, scale) in ENTRY_SUMS.items():
        out[metric] = (med(sum(e[key] for e in es) for es in by_pass.values()) * scale, unit)
    for metric, (key, unit) in ENTRY_MAXES.items():
        out[metric] = (med(max(e[key] for e in es) for es in by_pass.values()), unit)
    per_pass = [
        tracer.layer_totals({f"{e['entry']}#{e['pass']}" for e in es})
        for es in by_pass.values()
    ]
    for layer in METRIC_OPS_LAYERS:
        out[f"{layer}.calls"] = (med(t.get(layer, (0, 0.0))[0] for t in per_pass), "count")
        out[f"{layer}.self_s"] = (med(t.get(layer, (0, 0.0))[1] for t in per_pass), "s")
    return out


def write_record(out_dir: Path, workload: str, seed: int, metrics: dict,
                 entries: list[dict], tracer) -> Path:
    """Write the traced run's metrics, per-entry counters and spans."""
    out_dir.mkdir(parents=True, exist_ok=True)
    # per-entry ops call counts, for the exact counter diff
    for e in entries:
        totals = tracer.layer_totals({f"{e['entry']}#{e['pass']}"})
        e["ops_calls"] = {layer: totals[layer][0] for layer in OPS_LAYERS if layer in totals}
    path = out_dir / f"{workload}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(path, "w") as f:
        json.dump({
            "workload": workload, "seed": seed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "entries": entries, "spans": tracer.dump(),
        }, f)
    return path
