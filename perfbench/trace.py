"""Per-layer tracing for the catalog benchmark.

Two sources, both read from the benchmark's own files:

- Python spans. ``Tracer.install`` wraps the public driver-side functions of
  each layer module and rebinds every module-level alias of them across the
  package (the package imports with ``from … import``). A span's self time
  is its duration minus the part of it that child spans on the same thread
  cover. ``functions/*`` kernels are never wrapped: they run inside UDF
  bodies on the Python workers.
- Spark's in-process status stores (``statusStore()`` of the SparkContext
  and of the SQL shared state), read for the jobs one execution launched.
  Both stores work with ``spark.ui.enabled=false``.

Wrappers copy the wrapped function's ``__module__`` and ``__qualname__``
and replace it under that name in its defining module, so cloudpickle ships
a wrapper that ends up in a UDF closure by reference: a Python worker
imports the module afresh and resolves the name to the unwrapped function.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PACKAGE = "amazon_fresh_sql_data_engineering_spark"

# Layer modules, relative to the package; the path is the metric prefix.
LAYERS = (
    "session",
    "registry",
    "sources.loaders",
    "sources.sinks",
    "sources.layout",
    "sources.versioned",
    "sources.staging",
    "operators.asof",
    "operators.bloom",
    "operators.cdc",
    "operators.constraints",
    "operators.dedup",
    "operators.dml",
    "operators.expectations",
    "operators.governance",
    "operators.graph",
    "operators.multimodal",
    "operators.mv",
    "operators.ranking",
    "operators.similarity",
    "operators.skew",
    "pipelines.cleaning",
    "pipelines.entities",
    "pipelines.normalize",
    "streaming.events",
)
# layers whose entry points are a named few, not every public function
LAYER_ONLY = {
    "session": ("build_session",),
    "registry": ("tables", "ensure_engine_confs"),
}

# Catalog query functions are timed by the harness itself under this key.
QUERIES = "queries"


class Tracer:
    """Span recorder with per-layer accumulators for the current execution.

    ``take()`` returns and resets the accumulators; the harness calls it
    once per execution. Thread-safe: each thread keeps its own span stack.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self._acc: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[list[float]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, fn, *args, **kwargs):
        stack = self._stack()
        frame = [0.0]  # time covered by direct children
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dt
            with self._lock:
                acc = self._acc[layer]
                acc[0] += 1
                acc[1] += dt - frame[0]
                acc[2] += dt

    def take(self) -> dict[str, dict[str, float]]:
        """Per-layer ``calls``/``self_s``/``total_s`` since the last take."""
        with self._lock:
            out = {
                k: {"calls": v[0], "self_s": v[1], "total_s": v[2]}
                for k, v in self._acc.items()
            }
            self._acc.clear()
        return out

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.span(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> int:
        """Wrap every layer's public functions (and public methods of its
        public classes); rebind all package aliases. Returns the number of
        functions wrapped."""
        importlib.import_module(f"{PACKAGE}.catalog")  # every alias holder
        replaced: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            only = LAYER_ONLY.get(layer)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if only is not None and name not in only:
                    continue
                if _wrappable(obj):
                    wrapper = self._wrap(layer, obj)
                    replaced[id(obj)] = wrapper
                    self._set(mod, name, wrapper)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and _wrappable(meth):
                            self._set(obj, mname, self._wrap(layer, meth))
        # `from .x import f` copies: rebind every alias across the package
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = replaced.get(id(obj))
                if wrapper is not None and wrapper is not obj:
                    self._set(mod, name, wrapper)
        return len(replaced)

    def _set(self, owner, name: str, value) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._restore):
            setattr(owner, name, value)
        self._restore.clear()


def _wrappable(obj) -> bool:
    # plain Python functions only: no classes, no UDF objects (evalType)
    return inspect.isfunction(obj) and not hasattr(obj, "evalType")


def layer_totals(acc: dict[str, dict[str, float]], layer: str) -> dict[str, float]:
    return acc.get(layer, {"calls": 0, "self_s": 0.0, "total_s": 0.0})


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_PY_NODE = re.compile(r"Python|Pandas|Arrow")
# nodes that carry write metrics ("number of written files", "written output")
_WRITE_NODE = re.compile(r"Insert|Write|Command")


def _num(text) -> float:
    """First number in a SQL metric value string ("1,234", "12.0 KiB",
    "total (min, med, max ...)\\n3.1 MiB (...)"), scaled to bytes for sizes."""
    if text is None:
        return 0.0
    s = str(text)
    if "\n" in s:  # "total (min, med, max (stageId: taskId))\n<total> (...)"
        s = s.split("\n", 1)[1]
    m = re.search(r"(-?[\d,]+(?:\.\d+)?)\s*([KMGT]i?B|B)?", s)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    scale = {"KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    return v * scale.get(unit, 1)


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStores:
    """Reads per-execution job/stage/SQL metrics from Spark's status stores.

    ``mark()`` snapshots what exists; ``read(groups)`` waits for the
    listener bus to drain and returns metrics of the jobs in ``groups`` plus
    ungrouped jobs and SQL executions that appeared since the mark.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._ungrouped: set[int] = set()
        self._next_exec = 0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def mark(self) -> None:
        self.drain()
        self._ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        ex = self.sql.executionsList()
        n = ex.size()
        self._next_exec = (ex.apply(n - 1).executionId() + 1) if n else 0

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, groups: list[str]) -> dict:
        self.drain()
        by_group = {g: self.jobs(g) for g in groups}
        stray = sorted(
            set(self.sc.statusTracker().getJobIdsForGroup(None)) - self._ungrouped
        )
        out: dict = {
            "jobs_by_group": {g: len(j) for g, j in by_group.items()},
            "stray_jobs": len(stray),
            "intervals": {},
        }
        tot = defaultdict(float)
        seen_stages: set[int] = set()
        for group, jids in list(by_group.items()) + [("", stray)]:
            spans = []
            for jid in jids:
                jd = self.store.job(jid)
                sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
                if sub is not None and done is not None:
                    spans.append((sub.getTime() / 1e3, done.getTime() / 1e3))
                tot["jobs"] += 1
                sids = jd.stageIds()
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        sd = self.store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    tot["executor_run_s"] += sd.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    tot["gc_s"] += sd.jvmGcTime() / 1e3
                    tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot["output_bytes"] += sd.outputBytes()
            out["intervals"][group] = spans
        tot.update(self._sql_metrics())
        out["totals"] = dict(tot)
        return out

    def _sql_metrics(self) -> dict[str, float]:
        """Rows through Python/Arrow UDF nodes, files and bytes written."""
        tot = defaultdict(float)
        ex = self.sql.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = e.executionId()
            if eid < self._next_exec:
                break
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                is_py = bool(_PY_NODE.search(name))
                if not (is_py or _WRITE_NODE.search(name)):
                    continue
                metrics = node.metrics()
                for q in range(metrics.size()):
                    pm = metrics.apply(q)
                    mname = pm.name()
                    if is_py and mname == "number of output rows":
                        key = "python_rows"
                    elif mname == "number of written files":
                        key = "files_written"
                    elif mname == "written output":
                        key = "bytes_written"
                    else:
                        continue
                    tot[key] += _num(_opt(values.get(pm.accumulatorId())))
        return tot


def interval_union(spans: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
