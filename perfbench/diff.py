"""Compare traced benchmark records of two trees.

    python3 perfbench/diff.py --base .perfbench_out/A.json [...] \
                              --new .perfbench_out/B.json [...]

Deterministic counters are compared exactly, entry by entry and as pass
totals, and every change is flagged; the exit code is 1 when any changed
or when one side does not repeat its own counters. Counters known not to
repeat between runs of one tree are listed with the reason (VARIABLE, and
STREAM_TIMING for entries that run streams) and compared by median only,
like the wall times, which are compared by median and quartiles over all
timed passes of all records given for a side.

Compare records made with the same `--seed`: work done once per session,
such as staging the fixture tables, lands in whichever entry runs first,
so per-entry counters follow the entry order. Pass totals do not.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

# per-entry counters that repeat exactly between runs of one tree
EXACT = ("jobs", "stages", "sql_executions", "exchanges", "python_nodes",
         "py_rows", "stream_queries", "stream_batches", "stream_input_rows",
         "ops_calls")
# counters of EXACT that did not repeat in q116, the one timed entry that
# runs streams: two traced runs read 9211 and 5659 stream input rows, in
# 249 and 247 jobs and stages, with 113 and 111 exchanges. Its live
# streams (processingTime trigger) run beside the commits of its
# concurrent parts, so how changes split into micro-batches follows
# timing; that cause is not traced further. They are compared by median
# for every entry that runs streams, and for the pass totals beside it.
STREAM_TIMING = ("jobs", "stages", "exchanges", "stream_input_rows")
# per-entry counters that do not repeat, and why
VARIABLE = {
    "tasks": "q116 runs its parts concurrently and AQE sizes each shuffle "
             "read from map-output bytes, which vary (next line)",
    "shuffle_read_b": "compressed shuffle blocks vary with the row order "
                      "that concurrent parts and iterative loops leave",
    "shuffle_write_b": "as shuffle_read_b",
    "spill_b": "depends on free execution memory at the time; 0 in every "
               "run measured",
    "io_read_b": "depends on the host's page cache",
    "io_write_b": "depends on the host's writeback timing",
}
WALLS = ("wall_s", "task_run_s", "task_cpu_s", "gc_s", "idle_s",
         "py_run_s", "stream_batch_s")


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


PASS_TOTAL = "(pass total)"


def _add(a, b):
    if isinstance(a, dict):
        return {k: a.get(k, 0) + b.get(k, 0) for k in sorted(set(a) | set(b))}
    return a + b


def _per_entry(records: list[dict], key: str) -> dict[str, list]:
    """Values of `key` per entry over all passes of all records, plus the
    per-pass total, which does not depend on the order entries ran in."""
    vals: dict[str, list] = {}
    for rec in records:
        totals: dict[int, object] = {}
        for e in rec["entries"]:
            if key in e:
                vals.setdefault(e["entry"], []).append(e[key])
                p = e["pass"]
                totals[p] = e[key] if p not in totals else _add(totals[p], e[key])
        if totals:
            vals.setdefault(PASS_TOTAL, []).extend(totals.values())
    return vals


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile); one value is all three."""
    xs = [float(x) for x in xs]
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def _quart(xs: list[float]) -> str:
    q1, med, q3 = quartiles(xs)
    return f"{med:.3f} [{q1:.3f}, {q3:.3f}] n={len(xs)}"


def _canon(v) -> str:
    return json.dumps(v, sort_keys=True)


def _streaming(records: list[dict]) -> set[str]:
    """Entries that ran a streaming query, plus the pass total if any did."""
    out = {e["entry"] for r in records for e in r["entries"] if e.get("stream_queries")}
    return out | {PASS_TOTAL} if out else out


def diff(base: list[dict], new: list[dict], out=sys.stdout) -> int:
    changed = 0
    streaming = _streaming(base + new)
    for key in EXACT:
        a, b = _per_entry(base, key), _per_entry(new, key)
        for entry in sorted(set(a) | set(b)):
            if key in STREAM_TIMING and entry in streaming:
                if entry in a and entry in b:
                    print(f"# {entry} {key} not compared exactly (streams): "
                          f"{_quart(a[entry])} -> {_quart(b[entry])}", file=out)
                continue
            va = {_canon(v) for v in a.get(entry, [])}
            vb = {_canon(v) for v in b.get(entry, [])}
            for side, vs in (("base", va), ("new", vb)):
                if len(vs) > 1:
                    changed += 1
                    print(f"NOT REPEATING {entry} {key} in {side}: {sorted(vs)}", file=out)
            if va != vb:
                changed += 1
                print(f"CHANGED {entry} {key}: {sorted(va)} -> {sorted(vb)}", file=out)
    for key, why in VARIABLE.items():
        a, b = _per_entry(base, key), _per_entry(new, key)
        print(f"# {key} not compared exactly: {why}", file=out)
        for entry in sorted(set(a) & set(b)):
            print(f"  {entry} {key}: {_quart(a[entry])} -> {_quart(b[entry])}", file=out)
    for key in WALLS:
        a, b = _per_entry(base, key), _per_entry(new, key)
        for entry in sorted(set(a) & set(b)):
            print(f"wall {entry} {key}: {_quart(a[entry])} -> {_quart(b[entry])}", file=out)
    for metric in sorted(base[0]["metrics"]):
        a = [r["metrics"][metric]["value"] for r in base if metric in r["metrics"]]
        b = [r["metrics"][metric]["value"] for r in new if metric in r["metrics"]]
        if a and b:
            print(f"metric {metric}: {_quart(a)} -> {_quart(b)}", file=out)
    print(f"{changed} deterministic counter change(s)", file=out)
    return 1 if changed else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    return diff(_load(args.base), _load(args.new))


if __name__ == "__main__":
    sys.exit(main())
