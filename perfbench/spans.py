"""In-memory spans around the calls the benchmark makes into each layer.

Spans are recorded from the benchmark's own files: the runner opens one
span per entry and one each for its build and its `count()`, and
`install()` wraps every public function of the traced engine modules so
that each call is a span too. A wrapper replaces the function at its
module attribute and at every module-level name bound to it by
`from ... import` anywhere in `e02_spark`, so calls through either route
are seen. Calls from threads the engine starts (its ThreadPoolExecutor
parts) are attributed to the entry that is running: entries run one at a
time, so the running entry is process-wide state.

A span's self time is its duration minus the part of it covered by its
child spans. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from sparkstats import covered

# Engine modules whose public functions get a span; the span's layer is
# the module path below `e02_spark`.
TRACED_MODULES = (
    "ops.snapshot", "ops.export", "ops.ivm", "ops.mv",
    "ops.text", "ops.similarity", "ops.dedup", "ops.graph",
    "streaming.jobs", "sources.snapshot_stream", "sources.snapshot_cdf_stream",
)
OPS_LAYERS = tuple(m for m in TRACED_MODULES if m.startswith("ops."))


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    entry: str  # "<entry>#<pass>"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.streams: list = []  # StreamingQuery handles started by the engine
        self._entry = ""
        self._root = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- span recording -------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self._entry))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def entry(self, name: str, pass_no: int):
        """Root span of one entry run; every span until it closes, from
        any thread, belongs to it."""
        self._entry = f"{name}#{pass_no}"
        with self.span(name, "entry"):
            self._root = self._stack()[-1]
            try:
                yield
            finally:
                self._root = -1

    # -- function wrapping ----------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Wrap the public functions of TRACED_MODULES and rebind every
        module-level reference to them; returns the number wrapped."""
        wrapped: dict[int, object] = {}
        for mod_name in TRACED_MODULES:
            mod = importlib.import_module(f"e02_spark.{mod_name}")
            for name, obj in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                wrapped[id(obj)] = self._wrap(mod_name, obj)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("e02_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._undo.append((mod, name, obj))
                    setattr(mod, name, w)
        self._capture_streams()
        return len(wrapped)

    def _capture_streams(self) -> None:
        """Keep a handle on every streaming query started from Python, in
        any session, so its progress can be read after the entry."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for meth in ("start", "toTable"):
            orig = getattr(DataStreamWriter, meth)

            def started(*args, _orig=orig, **kwargs):
                q = _orig(*args, **kwargs)
                self.streams.append(q)
                return q

            functools.update_wrapper(started, orig)
            self._undo.append((DataStreamWriter, meth, orig))
            setattr(DataStreamWriter, meth, started)

    def uninstall(self) -> None:
        for owner, name, obj in reversed(self._undo):
            setattr(owner, name, obj)
        self._undo.clear()

    def take_stream_rows(self) -> tuple[int, list[str]]:
        """Input rows over all batches of the queries started since the
        last call, and the IDs of queries still active."""
        rows, active = 0, []
        for q in self.streams:
            if q.isActive:
                active.append(q.id)
            for prog in q.recentProgress:
                rows += int(prog.numInputRows)
        self.streams.clear()
        return rows, active

    # -- aggregation ----------------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span: its duration minus its children's
        union."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent >= 0:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return [
            s.end - s.start - covered(children.get(i, []), s.start, s.end)
            for i, s in enumerate(self.spans)
        ]

    def layer_totals(self, entries: set[str] | None = None) -> dict[str, tuple[int, float]]:
        """{layer: (calls, self seconds)} over spans of `entries`."""
        totals: dict[str, tuple[int, float]] = {}
        for s, own in zip(self.spans, self.self_times()):
            if entries is not None and s.entry not in entries:
                continue
            calls, secs = totals.get(s.layer, (0, 0.0))
            totals[s.layer] = (calls + 1, secs + own)
        return totals

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "start": round(s.start, 6),
             "end": round(s.end, 6), "parent": s.parent, "entry": s.entry,
             "self_s": round(own, 6)}
            for s, own in zip(self.spans, self.self_times())
        ]
