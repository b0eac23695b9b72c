"""Tracing for the per-layer run, from outside the engine package.

``Tracer`` keeps spans (name, start, end, parent, query id) in memory.
``install`` wraps the public functions of the layers the benchmark reports
so each call opens a span; it returns a function that restores the
originals. The ``read_*`` functions collect the Spark-side counters of the
labelled jobs: stage metrics from the status store, Python-worker metrics
from the SQL status store, streaming progress from a listener, and memory
held by the JVM.
"""

from __future__ import annotations

import functools
import gc
import importlib
import inspect
import os
import re
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

import spec

# module (under PKG) -> layer name of its spans; every public function
# defined in the module is wrapped
FUNCTION_LAYERS = {
    **{f"operators.{op}": f"operators.{op}" for op in spec.OPERATORS},
    "sources.io": "sources",
}
SNAPSHOT_METHODS = ("write", "read")


class Tracer:
    """In-memory spans of one thread. A span's parent is the span open
    when it started; ``qid`` is shared by every span of one query."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[tuple[dict, float]]:
        """Each span with its self time: its duration minus the time its
        children cover (children of one thread never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s, s["end"] - s["start"] - child[s["id"]]) for s in self.spans]


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def install(tracer: Tracer, counters: dict):
    """Wrap the traced layers; return a function that unwraps them.
    ``counters`` receives snapshot commits and bytes written."""
    originals: dict[int, tuple] = {}
    for mod_name, prefix in FUNCTION_LAYERS.items():
        mod = importlib.import_module(f"{spec.PKG}.{mod_name}")
        for name, fn in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ == mod.__name__:
                originals[id(fn)] = (fn, _wrap(tracer, f"{prefix}.{name}", fn))
    base = importlib.import_module(f"{spec.PKG}.registry._base")
    originals[id(base._td)] = (base._td, _wrap(tracer, "sources._td", base._td))

    undo: list[tuple] = []
    # rebind every module-level reference, including `from x import f` copies
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(spec.PKG) or mod is None:
            continue
        for name, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, name, hit[1])
                undo.append((mod, name, value))

    snapshots = importlib.import_module(f"{spec.PKG}.plans.snapshots")
    table = snapshots.SnapshotTable
    for meth in SNAPSHOT_METHODS:
        fn = table.__dict__[meth]
        setattr(table, meth, _wrap(tracer, f"plans.snapshots.{meth}", fn))
        undo.append((table, meth, fn))

    append_log = table.__dict__["_append_log"]
    attach = table.__dict__["_attach"]

    def counted_append_log(self, snap):
        append_log(self, snap)
        counters["plans.snapshots.commits"] += 1

    def counted_attach(self, commit_dir, *args, **kwargs):
        snap = attach(self, commit_dir, *args, **kwargs)
        local = re.sub(r"^file:", "", f"{self.root}/{commit_dir}")
        if os.path.isdir(local):
            counters["plans.snapshots.bytes_written"] += _dir_bytes(local)
        return snap

    table._append_log = counted_append_log
    table._attach = counted_attach
    undo += [(table, "_append_log", append_log), (table, "_attach", attach)]

    def restore() -> None:
        for owner, name, value in reversed(undo):
            setattr(owner, name, value)

    return restore


class StreamProgress(StreamingQueryListener):
    """Collects the trigger time (ms) of each micro-batch of the streaming
    queries that run while ``phase`` is set, and the job group of each such
    query with the phase it started in: a stream runs its jobs, foreachBatch
    sinks included, under its run id as job group, not under the group of
    the thread that started it. ``onQueryStarted`` runs before ``start()``
    returns, so the phase is the caller's."""

    def __init__(self) -> None:
        self.batch_ms: list[int] = []
        self.run_groups: list[tuple[str, str]] = []
        self.phase: str | None = None

    def onQueryStarted(self, event) -> None:
        if self.phase:
            self.run_groups.append((str(event.runId), self.phase))

    def onQueryProgress(self, event) -> None:
        if self.phase:
            self.batch_ms.append(event.progress.durationMs.get("triggerExecution", 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listeners(spark) -> None:
    """Wait until the status stores have seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_seconds(spark, jobs: list[int]) -> float:
    """Wall time covered by ``jobs``, overlapping jobs counted once."""
    store = spark.sparkContext._jsc.sc().statusStore()
    spans = []
    for j in jobs:
        data = store.job(j)
        if data.submissionTime().isDefined() and data.completionTime().isDefined():
            spans.append(
                (data.submissionTime().get().getTime(), data.completionTime().get().getTime())
            )
    covered, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered / 1000.0


_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}


def read_stages(spark, jobs: list[int]) -> dict[str, float]:
    """Summed stage metrics of ``jobs`` (all attempts, skipped stages
    excluded because they ran no tasks)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wanted = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            wanted.update(info.stageIds)
    out = {k: 0.0 for k in _STAGE_FIELDS}
    out["stages"] = 0
    if not wanted:
        return out
    jvm = spark._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in wanted or st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        for key, field in _STAGE_FIELDS.items():
            out[key] += getattr(st, field)()
    out["cpu_ms"] /= 1e6  # executorCpuTime is in nanoseconds
    return out


_PY_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
_PY_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_UNITS = {
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric such as ``1.3 s`` or ``60.5 KiB``
    (multi-task metrics print the total on the line after the header)."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def read_python(spark, jobs: set[int]) -> dict[str, float]:
    """Python-worker metrics of the SQL executions that ran ``jobs``."""
    out = {v: 0.0 for v in _PY_METRICS.values()}
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = ex.jobs().keys().mkString(",")
        if not {int(j) for j in ex_jobs.split(",") if j} & jobs:
            continue
        graph = store.planGraph(ex.executionId())
        values = store.executionMetrics(ex.executionId())
        nodes = graph.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name() not in _PY_NODES:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = _PY_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += _metric_value(v.get())
    return out


def read_memory(spark) -> dict[str, float]:
    """JVM peak RSS and the persisted RDDs still held, read after Python
    and JVM garbage collection has settled: the context cleaner frees an
    RDD only after the JVM collects its last reference, so a single read
    depends on GC timing. Collect until two reads in a row agree."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = int(re.search(r"VmHWM:\s*(\d+)", f.read()).group(1))
    prev = None
    for _ in range(20):
        gc.collect()
        spark._jvm.java.lang.System.gc()
        time.sleep(0.25)
        infos = jsc.getRDDStorageInfo()
        cur = (
            jsc.getPersistentRDDs().size(),
            sum(i.memSize() + i.diskSize() for i in infos),
        )
        if cur == prev:
            break
        prev = cur
    return {
        "engine.jvm_peak_rss_mb": hwm_kb / 1024.0,
        "engine.retained_rdds": cur[0],
        "engine.retained_mb": cur[1] / 2**20,
    }
