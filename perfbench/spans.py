"""The traced run: spans around calls into the program's layers, plus
counters read from Spark's status store, the streaming listener bus,
the memo registry and /proc.

Spans are recorded from outside the program: ``Tracer.install`` swaps
every public DataFrame-level function of each layer module for a
wrapper, at EVERY module attribute bound to it (``load_table`` and
``memo_persist`` are imported by name into many ``plans`` modules, so
patching only the defining module would miss most calls). A Spark
job a registry builder runs itself (``first()``, ``toPandas()``, ...)
gets a ``spark`` span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import gc
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "youtube_etl_automated_pipeline_spark"

# The benchmark's own spans around each registry query: the builder call
# (``plans.build``; what its wrapped callees do not cover is the
# builder's own time) and the noop-write action, which is Spark's work
# and counts in the ``spark`` layer. ``op:<name>`` spans enclose one
# operation.
BUILD = "plans.build"
ACTION = "spark.action"
# DataFrame methods that run a Spark job. A builder that calls one
# itself (eager work, not through a layer function) gets a
# ``spark.<method>`` span, so that time counts in the ``spark`` layer.
EAGER_ACTIONS = ("collect", "toPandas", "first", "head", "take", "count", "isEmpty", "tail",
                 "toLocalIterator", "show", "foreach", "foreachPartition", "checkpoint",
                 "localCheckpoint")

# layer -> modules whose public DataFrame-level functions are wrapped
LAYERS = {
    "session": [f"{PKG}.session"],
    "sources": [f"{PKG}.sources.readers"],
    "pipeline": [f"{PKG}.pipeline"],
    "operators": [f"{PKG}.operators.{m}" for m in (
        "dedup", "joins", "cache_registry", "audit", "layout", "lineage", "skew")],
    "ext": [f"{PKG}.ext.{m}" for m in (
        "bpe", "curation", "dedup", "embed_lsh", "kmeans", "logreg", "multimodal",
        "similarity", "textstats")],
    "streaming": [f"{PKG}.streaming.{m}" for m in (
        "incremental", "stateful", "merge", "aggstate")],
    "sinks": [f"{PKG}.sinks"],
}


def _traceable(fn) -> bool:
    """Driver-side plan functions only: ones that take or return a
    DataFrame or SparkSession. Column-expression helpers (called per
    plan node) and pandas/numpy kernels (run inside Python workers)
    are left alone."""
    try:
        sig = str(inspect.signature(fn))
    except (TypeError, ValueError):
        return False
    return ("DataFrame" in sig or "SparkSession" in sig) and "pd." not in sig


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        # (id, parent id, name, start, end) with perf_counter times
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.staging_paths: set[str] = set()
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"
        hook = getattr(self, f"_hook_{layer}_{fn.__name__}", None)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                if hook is None:
                    return fn(*args, **kwargs)
                return hook(fn, *args, **kwargs)

        return wrapper

    def _wrap_eager(self, fn):
        name = f"spark.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            if not stack or stack[-1][1] != BUILD:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> int:
        """Wrap the layer functions at every binding; returns how many
        bindings were patched."""
        swap: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for attr, fn in list(vars(mod).items()):
                    if (inspect.isfunction(fn) and not attr.startswith("_")
                            and fn.__module__ == modname and _traceable(fn)):
                        swap[id(fn)] = self._wrap(layer, fn)
        patched = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PKG) or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and id(val) in swap:
                    setattr(mod, attr, swap[id(val)])
                    patched += 1
        from pyspark.sql.classic.dataframe import DataFrame

        for attr in EAGER_ACTIONS:
            setattr(DataFrame, attr, self._wrap_eager(getattr(DataFrame, attr)))
        self._wrappers = list(swap.values())
        return patched

    def unpatched(self) -> list[str]:
        """Every place still bound to an unwrapped layer function after
        ``install``: a module attribute the module scan missed, a
        registry dict or list, a default argument or a closure cell.
        Calls through any of these would escape the spans."""
        originals = [w.__wrapped__ for w in self._wrappers]
        own = {id(originals)} | {id(w.__dict__) for w in self._wrappers} | {
            id(c) for w in self._wrappers for c in w.__closure__}
        mod_dicts = {id(vars(m)): m.__name__ for m in list(sys.modules.values()) if m}
        found = []
        for ref in gc.get_referrers(*originals):
            if id(ref) in own or inspect.isframe(ref):
                continue
            if isinstance(ref, dict):
                where = mod_dicts.get(id(ref), "dict")
                found += [f"{where}[{k!r}]" for k, v in list(ref.items())
                          if any(v is o for o in originals)]
            else:
                found.append(f"{type(ref).__name__} {str(ref)[:80]}")
        return found

    # -- per-function counters: _hook_<layer>_<function> runs in place of
    # the plain call, inside the function's span ---------------------------

    def _hook_operators_memo_persist(self, fn, spark, key, build, *args, **kwargs):
        built = []

        def counted_build():
            built.append(True)
            return build()

        out = fn(spark, key, counted_build, *args, **kwargs)
        self.counters["operators.memo.calls"] += 1
        self.counters["operators.memo.hits"] += 0 if built else 1
        return out

    def _hook_sources_load_table(self, fn, *args, **kwargs):
        self.counters["sources.load_table_calls"] += 1
        return fn(*args, **kwargs)

    def _hook_sinks_append_table(self, fn, df, path):
        before = dir_bytes(path)
        fn(df, path)
        written = dir_bytes(path) - before
        self.counters["sinks.bytes_written"] += written
        if path in self.staging_paths:
            self.counters["sinks.staged_bytes"] += written

    def _hook_sinks_dedup_table_swap(self, fn, spark, path, *args, **kwargs):
        fn(spark, path, *args, **kwargs)
        self.counters["sinks.bytes_written"] += dir_bytes(path)

    def _hook_sinks_truncate_staging(self, fn, spark, path):
        fn(spark, path)
        self.counters["sinks.bytes_written"] += dir_bytes(path)

    # -- reports -----------------------------------------------------------

    def window(self, t0: float, t1: float):
        return [s for s in self.spans if s[3] >= t0 and s[4] <= t1]

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        spans = self.window(t0, t1)
        child = defaultdict(float)
        for sid, parent, _, a, b in spans:
            if parent is not None:
                child[parent] += b - a
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, a, b in spans:
            if not name.startswith("op:"):
                out[name.split(".", 1)[0]] += (b - a) - child[sid]
        return dict(out)

    def totals(self, t0: float, t1: float, names: list[str]) -> dict[str, float]:
        out = {n: 0.0 for n in names}
        for _, _, name, a, b in self.window(t0, t1):
            if name in out:
                out[name] += b - a
        return out

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] inside spans of program-layer functions and
        the Spark action. The benchmark's ``op:`` and ``plans.build``
        spans do not count: time in a builder that no wrapped callee
        covers (a call through an unpatched binding, or the builder's
        own work) is uncovered."""
        spans = [(a, b) for _, _, name, a, b in self.window(t0, t1)
                 if name != BUILD and not name.startswith("op:")]
        covered, end = 0.0, t0
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return covered / (t1 - t0) if t1 > t0 else 0.0


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        stack = self.t._stack()
        with self.t._lock:
            self.id = self.t._next
            self.t._next += 1
        self.parent = stack[-1][0] if stack else None
        stack.append((self.id, self.name))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._stack().pop()
        self.t.spans.append((self.id, self.parent, self.name, self.start, end))


# -- Spark's own counters ---------------------------------------------------

def _latest(seq) -> int:
    return seq.apply(0).jobId() if seq.size() else -1


def latest_job_id(spark) -> int:
    ss = spark._jsc.sc().statusStore()
    return _latest(ss.jobsList(None))


def latest_stage_id(spark) -> int:
    ss = spark._jsc.sc().statusStore()
    st = ss.stageList(None, False, False, getattr(ss, "stageList$default$4")(), None)
    return st.apply(0).stageId() if st.size() else -1


def spark_pass_metrics(spark, after_stage: int, after_job: int, t0_ms: float,
                       t1_ms: float) -> dict[str, float]:
    """Stage and job totals for stages/jobs newer than the given ids
    (the status store lists newest first). ``spark.driver_gap_s`` is the
    pass wall time outside the union of stage spans."""
    ss = spark._jsc.sc().statusStore()
    st = ss.stageList(None, False, False, getattr(ss, "stageList$default$4")(), None)
    m: dict[str, float] = defaultdict(float)
    spans = []
    for i in range(st.size()):
        s = st.apply(i)
        if s.stageId() <= after_stage:
            break
        if s.status().toString() == "SKIPPED":
            continue  # its output was reused: no tasks ran
        m["spark.stages"] += 1
        m["spark.tasks"] += s.numTasks()
        m["spark.executor_run_s"] += s.executorRunTime() / 1e3
        m["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["spark.gc_s"] += s.jvmGcTime() / 1e3
        m["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        m["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["spark.input_bytes"] += s.inputBytes()
        m["spark.output_bytes"] += s.outputBytes()
        sub, done = s.submissionTime(), s.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((max(sub.get().getTime(), t0_ms), min(done.get().getTime(), t1_ms)))
    busy, end = 0.0, t0_ms
    for a, b in sorted(spans):
        a = max(a, end)
        if b > a:
            busy += b - a
            end = b
    m["spark.stage_busy_s"] = busy / 1e3
    m["spark.driver_gap_s"] = (t1_ms - t0_ms - busy) / 1e3
    m["spark.jobs"] = max(_latest(ss.jobsList(None)) - after_job, 0)
    return dict(m)


def storage_metrics(spark) -> dict[str, float]:
    infos = spark._jsc.sc().getRDDStorageInfo()
    return {
        "spark.persisted_rdds": spark._jsc.getPersistentRDDs().size(),
        "spark.cached_bytes": sum(i.memSize() + i.diskSize() for i in infos),
    }


def progress_listener():
    """A streaming listener summing every micro-batch's progress report
    (pyspark is imported only when a traced run asks for it)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressTotals(StreamingQueryListener):
        KEYS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                "latestOffset", "triggerExecution")
        COUNTS = ("microbatches", "rows_in", "state_rows", "state_memory_bytes",
                  "state_commit_ms")

        def __init__(self):
            self.lock = threading.Lock()
            self.reset()

        def reset(self) -> None:
            self.m = {f"streaming.{k}": 0.0 for k in self.COUNTS}
            self.m.update({f"streaming.{k}_ms": 0.0 for k in self.KEYS})
            self.events = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.lock:
                self.events += 1
                self.m["streaming.microbatches"] += 1
                self.m["streaming.rows_in"] += p.numInputRows
                for k in self.KEYS:
                    self.m[f"streaming.{k}_ms"] += p.durationMs.get(k, 0)
                for op in p.stateOperators:
                    self.m["streaming.state_rows"] += op.numRowsTotal
                    self.m["streaming.state_memory_bytes"] += op.memoryUsedBytes
                    self.m["streaming.state_commit_ms"] += op.commitTimeMs

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> dict[str, float]:
            """Wait until no event arrived for ``quiet_s`` (the listener
            bus is asynchronous), then return and reset the totals."""
            deadline = time.monotonic() + limit_s
            seen = -1
            while time.monotonic() < deadline and seen != self.events:
                seen = self.events
                time.sleep(quiet_s)
            with self.lock:
                out = dict(self.m)
                self.reset()
            return out

    return ProgressTotals()
