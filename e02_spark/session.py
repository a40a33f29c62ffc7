"""SparkSession factory.

Defaults chosen for correctness-determinism and scale-readiness:
  - AQE on (runtime re-plan: skew joins, partition coalescing, broadcast
    conversion) — on a real cluster this is the main lever that keeps the
    same code efficient from sf0.001 to 100 TB.
  - spark.sql.session.timeZone=UTC so timestamp collection is deterministic
    and matches the DuckDB oracle (naive UTC).
  - shuffle.partitions defaults to the local core count; on a cluster this
    should be ~2-3x total executor cores (AQE coalesces the excess).
  - Arrow enabled: vectorized toPandas / pandas_udf transfer.
  - spark.sql.codegen.cache.maxEntries=4096 (Spark's default is 100). The
    cache maps generated Java source to its compiled class. A pass over the
    50 declared entries at sf0.01 compiles about 1,930 distinct classes,
    so with 100 slots the LRU evicts nearly every class before its query
    shape comes round again, and a long-lived session (reference pipeline,
    bench warm-up, Tier-1 suite) recompiles it with Janino on every pass.
    At 4096 the whole working set stays resident; plans and results do not
    change. The conf is static, so only sessions built here get it (see
    tune_session); codegen_compiles() reads the compile counters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "e02-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    # Shuffle/spill dirs: prefer RAM-backed tmpfs when present. On a real
    # cluster this is the "local NVMe for shuffle" deployment knob
    # (spark.local.dir); on this box the root disk is shared/contended
    # (high iowait at near-idle CPU) and shuffle writes are the only
    # disk-bound step at test scale, so tmpfs removes the noise.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT96 (the legacy default) carries NO parquet footer min/max
        # stats, which kills file-level stats pruning on timestamp
        # columns (ops/snapshot.py harvests footers at commit time);
        # MICROS is the modern encoding every reader here handles.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # PySpark's error-context capture walks the Python stack AND makes
        # a JVM round-trip on EVERY DataFrame API call (pyspark/errors/
        # utils.py _capture_call_site). The engine's build-heavy paths
        # (iterative graph loops, lakehouse commit chains) issue thousands
        # of API calls per query — profiled at ~3% of a lifecycle entry's
        # wall. Static conf, so set here; errors lose only the "user code
        # line" annotation, never the error itself.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # about twice the generated-class working set (see module doc)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to an externally provided session.

    The driver hands us its own SparkSession for entry()/queries(); static
    conf (master, memory) is fixed by then, but these still apply. The
    static spark.sql.codegen.cache.maxEntries is fixed too, so such a
    session keeps Spark's 100-entry generated-class cache and recompiles
    more on repeat passes. The limit is accepted; results are the same
    either way.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # shuffle.partitions is runtime-settable and defaults to 200 on a
    # plain session — sized instead to the local core count (AQE
    # coalesces the excess; on a cluster the driver would own this knob)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    # stats-bearing timestamp encoding (see get_spark) — runtime-settable
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static in some deployments
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(Janino compiles, summed compile ms) in this JVM so far.

    Both grow only on a generated-class cache miss; diff two readings to
    charge the compiles to the work between them."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


import threading
from contextlib import contextmanager

_SCOPE_LOCK = threading.Lock()
_SCOPE_STATE: dict[int, dict] = {}


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope spark.sql.shuffle.partitions to `n`, restoring on exit.

    Shared by the streaming entries (state-store count per stateful
    operator) and the iterative small-graph pipelines (per-round exchange
    width) — both size the shuffle to the DATA, not the session default.

    THREAD-SAFE and refcounted: the streaming composites start several
    same-width jobs concurrently from worker threads, and the session
    conf is global — so the outer value is saved exactly once (first
    scope in) and restored exactly once (last scope out), never the
    torn save/restore interleaving a naive per-scope save would produce
    (which can permanently leak the scoped value into the session).

    Width rules (round 8 — the nesting the old save/restore supported is
    back, without losing the cross-thread safety):
    - concurrent scopes of the SAME width merge (refcounted frame);
    - the SAME thread may NEST a different width (LIFO frames: the inner
      scope sets its width and exit restores the enclosing frame's);
    - a different width while ANOTHER thread holds any active frame
      raises: the conf is captured by each streaming query at .start(),
      so two widths genuinely cannot coexist across threads."""
    key = "spark.sql.shuffle.partitions"
    sid = id(spark)
    tid = threading.get_ident()
    n = int(n)
    with _SCOPE_LOCK:
        st = _SCOPE_STATE.get(sid)
        if st is None:
            st = {"outer": spark.conf.get(key), "frames": []}
            _SCOPE_STATE[sid] = st
            spark.conf.set(key, str(n))
            frame = {"n": n, "count": 1, "tids": {tid}}
            st["frames"].append(frame)
        elif st["frames"][-1]["n"] == n:
            frame = st["frames"][-1]
            frame["count"] += 1
            frame["tids"].add(tid)
        elif all(f["tids"] == {tid} for f in st["frames"]):
            spark.conf.set(key, str(n))  # same-thread nested scope
            frame = {"n": n, "count": 1, "tids": {tid}}
            st["frames"].append(frame)
        else:
            raise RuntimeError(
                "scoped_shuffle_partitions conflict: active scope has "
                f"width {st['frames'][-1]['n']}, requested {n} — "
                "differing widths are only allowed as same-thread nested "
                "scopes; concurrent scopes across threads must agree"
            )
    try:
        yield
    finally:
        # decrement the EXACT frame this scope joined (never blindly the
        # top: a different-thread scope may have merged into a frame that
        # is no longer top by exit time, and decrementing the top would
        # tear down an inner frame another thread still holds). A non-top
        # frame reaching zero stays in place — its width is shadowed by
        # the active inner frame — and is popped when the frames above it
        # unwind; conf is only restored when the top actually pops.
        with _SCOPE_LOCK:
            frame["count"] -= 1
            popped = False
            while st["frames"] and st["frames"][-1]["count"] == 0:
                st["frames"].pop()
                popped = True
            if popped:
                if st["frames"]:
                    spark.conf.set(key, str(st["frames"][-1]["n"]))
                else:
                    spark.conf.set(key, st["outer"])
                    del _SCOPE_STATE[sid]
