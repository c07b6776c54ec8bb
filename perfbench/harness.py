"""Closed-loop catalog benchmark: one client issues one query at a time.

A run of one workload:

1. set-up: session start and the flagship query, once with the JVM launch
   and the one-time warm-up shapes, then twice more in the live JVM;
   ``setup_s`` is the median of those two (no workload needs a fixture
   beyond the bundled tables);
2. a cold pass: the first in-process execution of every workload query;
3. a fixed number of warm passes (``WARM_PASSES``). A query's warm latency
   is the median of its warm executions. The run does fixed work;
   ``seconds`` is only checked, and a run that measured for longer says so
   on stderr.

The timed unit is ``fn(spark, sf_dir)`` plus one action that reads every
output column (row count and an order-insensitive sum of per-row
``xxhash64``), so Catalyst cannot prune what a user would receive. The
action's result is the digest checked against ``pins.json``. After the
action returns the harness counts the RDDs still persisted, then clears the
cache and unpersists them.

The gated latencies are in reference-host seconds. Before every execution
the harness times a fixed Spark job that shares no code with the package
(``reference_s``); a pass's host slowdown is the median of those times over
``REF_NOMINAL_S``, and the pass's latencies are divided by it. On this
shared host, CPU steal from other guests made whole runs up to 1.8x slower,
which no amount of work in a one-minute run averages out; the slowdown
cancels it. The raw latencies stay in the record.

With ``trace`` on, layer functions are wrapped (``trace.Tracer``), every
traced execution runs under two Spark job groups (build, action), and each
warm pass runs every query once untraced and once traced, so the tracing
overhead is measured in the run.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf resolves its type hints here

from perfbench import trace
from perfbench.workloads import WARM_PASSES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PINS_PATH = os.path.join(HERE, "pins.json")
DRIVER_MEM = "3g"  # spark.driver.memory; well below host RAM
SETUP_REPEATS = 3  # one JVM launch, then two re-setups in the live JVM
TAIL_PCT = 90.0  # the ungated tail: interpolated p90 of per-query latencies
REF_ROWS = 3_000_000  # rows of the host-speed reference job
REF_NOMINAL_S = 0.12  # its time on a quiet 4-CPU host


# ---------------------------------------------------------------------------
# Digest: the timed action
# ---------------------------------------------------------------------------


def digest_frame(df):
    """One-row frame (n, s): row count and the wrap-free sum of per-row
    ``xxhash64`` over every output column, so no column can be pruned."""
    from pyspark.sql import functions as F

    # positional names: duplicate or dotted output names cannot break the hash
    renamed = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    cols = [
        F.to_json(F.col(f.name)) if f.dataType.typeName() == "map" else F.col(f.name)
        for f in renamed.schema.fields
    ] or [F.lit(0)]
    return renamed.select(F.xxhash64(*cols).cast("decimal(20,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    )


def digest(df) -> dict:
    """Row count, schema and an order-insensitive hash over every column."""
    row = digest_frame(df).collect()[0]
    return {"rows": int(row["n"]), "schema": df.schema.simpleString(), "hash": str(row["s"] or 0)}


def check(pin: dict | None, got: dict) -> str | None:
    """Mismatch description, or None when ``got`` matches every pinned field.
    A pin field set to null (unstable across runs of the same code) is not
    compared."""
    if pin is None:
        return "no pin"
    for key in ("rows", "schema", "hash"):
        if pin.get(key) is not None and pin[key] != got[key]:
            return f"{key}: pinned {pin[key]!r}, got {got[key]!r}"
    return None


def load_pins(path: str = PINS_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)["queries"]


# ---------------------------------------------------------------------------
# Peak RSS, sampled from /proc outside the JVM and the Python workers
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> dict[str, int]:
    """Summed RSS of the ``java`` and ``python*`` processes among ``pids``,
    in total and by command name. Other commands are skipped: a child the
    JVM forks for a shell command briefly carries the JVM's whole RSS under
    its thread's name, and counting it doubled the peak in some runs."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"total": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        out["total"] += rss
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Background sampler of the summed RSS of this process's descendants
    (the JVM and its Python workers). ``peak`` is the highest total seen;
    ``peak_by_command`` the RSS by command name at that moment."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            sample = rss_bytes(descendants(me))
            if sample["total"] > self.peak:
                self.peak = sample.pop("total")
                self.peak_by_command = sample

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Session, warm-up and sweep
# ---------------------------------------------------------------------------


def start_session(scratch: str):
    from amazon_fresh_sql_data_engineering_spark.session import build_session

    tmp = os.path.join(scratch, "tmp")
    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                # fixed heap and young generation: with G1's adaptive sizing
                # the JVM's RSS tracked heap resizing and peak_rss_mb swung
                # ~10% between runs; now it follows what the old gen retains
                f"-Xms{DRIVER_MEM} -Xmn384m -Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}"
            ),
        },
    )


def warm_up(spark, sf_dir: str) -> None:
    """Per set-up: run the flagship query and a digest on a synthetic frame."""
    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

    CATALOG["q_high_value"].fn(spark, sf_dir).count()
    digest(spark.range(100).select("id"))


def reference_s(spark) -> float:
    """Time of a fixed CPU-bound Spark job that calls no package code: how
    fast the shared host runs right now."""
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, REF_ROWS, 1, n).selectExpr("sum(xxhash64(id))").collect()
    return time.perf_counter() - t0


def warm_up_shapes(spark, python_udfs: bool) -> None:
    """Once per process: JIT the lower()-filter and non-equi broadcast join
    shapes and, for a workload with Python UDFs, start the Python/Arrow
    workers, on synthetic frames that share no plan or cache with a catalog
    query."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if python_udfs:

        @pandas_udf("double")
        def _warm(s: pd.Series) -> pd.Series:
            return s * 1.0

        @pandas_udf("array<long>")
        def _warm_arr(s: pd.Series) -> pd.Series:
            return pd.Series([[v] for v in s])

        df = spark.range(10000)
        df.select(_warm(F.col("id").cast("double"))).count()
        df.select(F.explode(_warm_arr(F.col("id")))).count()
    s = spark.range(2048).select(
        F.concat(F.lit("WaRm"), F.col("id").cast("string")).alias("t"), "id"
    )
    s.filter(F.lower(F.col("t")) == "warm7").count()
    spans = spark.range(64).select(F.col("id").alias("lo"), (F.col("id") + 3).alias("hi"))
    s.join(
        F.broadcast(spans), (F.col("id") >= F.col("lo")) & (F.col("id") <= F.col("hi"))
    ).count()
    for _ in range(3):
        reference_s(spark)


def sweep(spark) -> int:
    """Clear cached frames and unpersist every persistent RDD, as bench.py
    does between executions. Returns how many RDDs were persisted before
    the sweep, cached DataFrames included."""
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist()
    return leaked


# ---------------------------------------------------------------------------
# Runs
# ---------------------------------------------------------------------------


@dataclass
class Execution:
    query: str
    phase: str  # "cold" | "warm"
    traced: bool
    build_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0
    error: str | None = None
    rows: int | None = None
    leaked_rdds: int = 0
    ref_s: float = 0.0
    layers: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)


class Runner:
    def __init__(self, spark, sf_dir: str, pins: dict, tracer=None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.pins = pins
        self.tracer = tracer
        self.stores = trace.SparkStores(spark) if tracer is not None else None
        self._n = 0

    def execute(self, name: str, phase: str, traced: bool) -> Execution:
        from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

        fn = CATALOG[name].fn
        ex = Execution(name, phase, traced)
        sc = self.spark.sparkContext
        ex.ref_s = reference_s(self.spark)
        if traced:
            self._n += 1
            groups = [f"pb{self._n}-build", f"pb{self._n}-action"]
            self.stores.mark()
            self.tracer.take()
            sc.setJobGroup(groups[0], f"perfbench build {name}", False)
        got = None
        t0 = time.perf_counter()
        try:
            df = self.tracer.span(trace.QUERIES, fn, self.spark, self.sf_dir) if traced else fn(
                self.spark, self.sf_dir
            )
            t1 = time.perf_counter()
            ex.build_s = t1 - t0
            if traced:
                sc.setJobGroup(groups[1], f"perfbench action {name}", False)
            got = digest(df)
            ex.action_s = time.perf_counter() - t1
        except Exception as e:  # a failing query is a counted failure, not a crash
            ex.error = f"{type(e).__name__}: {str(e)[:300]}"
        ex.wall_s = time.perf_counter() - t0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            ex.layers = self.tracer.take()
            ex.spark = self.stores.read(groups)
            action_jobs = trace.interval_union(ex.spark["intervals"].pop(groups[1], []))
            ex.spark["action_driver_gap_s"] = max(ex.action_s - action_jobs, 0.0)
            ex.spark["build_jobs"] = ex.spark["jobs_by_group"][groups[0]]
            del ex.spark["intervals"]
        if got is not None:
            ex.rows = got["rows"]
            bad = check(self.pins.get(name), got)
            if bad:
                ex.error = f"digest mismatch: {bad}"
        ex.leaked_rdds = sweep(self.spark)
        return ex


def percentile(values: list[float], pct: float) -> float:
    """Percentile by linear interpolation between the two nearest samples."""
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    i = math.floor(k)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (k - i)


def latency_summary(per_query: dict[str, float], ref_s: list[float]) -> dict:
    """Raw latency figures of one pass, and its host slowdown: the median
    reference-job time over ``REF_NOMINAL_S``."""
    xs = list(per_query.values())
    return {
        "wall_s": sum(xs),
        "p50_s": statistics.median(xs),
        "tail_s": percentile(xs, TAIL_PCT),
        "tail_pct": TAIL_PCT,
        "samples": len(xs),
        "slowdown": statistics.median(ref_s) / REF_NOMINAL_S,
    }


def per_query_warm(execs: list[Execution], traced: bool | None = None) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for e in execs:
        if e.phase == "warm" and (traced is None or e.traced == traced):
            by.setdefault(e.query, []).append(e.wall_s)
    return {q: statistics.median(v) for q, v in by.items()}


def run_workload(
    workload: str, seed: int, seconds: float, traced: bool, scratch: str, log
) -> dict:
    """Run one workload; returns the full record (metrics plus per-query)."""
    spec = WORKLOADS[workload]
    sf_dir = DATA_DIR
    pins = load_pins()
    rng = random.Random(seed)
    tracer = trace.Tracer() if traced else None

    with RssSampler() as rss:
        # the first set-up also launches the JVM; the median is over the
        # in-process re-setups that follow it
        setups = []
        for i in range(SETUP_REPEATS):
            if tracer is not None and i == SETUP_REPEATS - 1:
                tracer.install()
            t0 = time.perf_counter()
            spark = start_session(scratch)
            warm_up(spark, sf_dir)
            if i == 0:
                warm_up_shapes(spark, spec.python_udfs)
            setups.append(time.perf_counter() - t0)
            sweep(spark)
        log(f"setup_s samples: {[round(s, 3) for s in setups]}")
        setup_layers = tracer.take() if tracer is not None else {}

        runner = Runner(spark, sf_dir, pins, tracer)
        execs: list[Execution] = []
        order = list(spec.queries)
        rng.shuffle(order)
        t_start = time.perf_counter()
        for q in order:
            execs.append(runner.execute(q, "cold", traced))
        # Traced, a warm pass runs each query twice, untraced and traced,
        # alternating which goes first to cancel the order bias.
        for _ in range(WARM_PASSES):
            order = list(spec.queries)
            rng.shuffle(order)
            for i, q in enumerate(order):
                modes = ((False, True) if i % 2 == 0 else (True, False)) if traced else (False,)
                for traced_exec in modes:
                    execs.append(runner.execute(q, "warm", traced_exec))
        measured_s = time.perf_counter() - t_start
        if measured_s > seconds:
            log(f"measured {measured_s:.1f} s, longer than the {seconds:g} s asked for")
        if tracer is not None:
            tracer.uninstall()
    peak_rss = rss.peak
    log(f"peak RSS by command (MB): { {k: round(v / 2**20) for k, v in rss.peak_by_command.items()} }")

    cold = {e.query: e.wall_s for e in execs if e.phase == "cold"}
    warm = per_query_warm(execs, traced=False)
    failures = [e for e in execs if e.error]
    for e in failures:
        log(f"FAILED {e.phase} {e.query}: {e.error}")
    rec = {
        "workload": workload,
        "seed": seed,
        "trace": int(traced),
        "queries": len(spec.queries),
        "warm_passes": WARM_PASSES,
        "measured_s": measured_s,
        "attempted": len(execs),
        "failed": len(failures),
        "failed_frac": len(failures) / len(execs),
        "setup_samples_s": setups,
        "first_setup_s": setups[0],
        "cold": latency_summary(cold, [e.ref_s for e in execs if e.phase == "cold"]),
        "warm": latency_summary(
            warm, [e.ref_s for e in execs if e.phase == "warm" and not e.traced]
        ),
        "peak_rss_mb": peak_rss / 2**20,
        "peak_rss_by_command_mb": {k: v / 2**20 for k, v in rss.peak_by_command.items()},
        "per_query": {
            q: {
                "cold_s": cold.get(q),
                "warm_s": warm.get(q),
                "rows": next((e.rows for e in execs if e.query == q), None),
            }
            for q in spec.queries
        },
    }
    # The tails stay in the record and on stdout but out of the gated
    # metrics: one order statistic of 8-20 queries spread 0.25-0.33
    # (IQR/median over ten runs) on a shared 4-CPU host.
    c, w = rec["cold"], rec["warm"]
    rec["end_to_end"] = {
        "setup_s": (statistics.median(setups[1:]), "s"),
        "cold_wall_s": (c["wall_s"] / c["slowdown"], "s"),
        "warm_wall_s": (w["wall_s"] / w["slowdown"], "s"),
        "cold_p50_s": (c["p50_s"] / c["slowdown"], "s"),
        "warm_p50_s": (w["p50_s"] / w["slowdown"], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    if traced:
        rec["per_layer"], rec["traced_per_query"] = per_layer(execs, setup_layers)
    return rec


# ---------------------------------------------------------------------------
# Per-layer aggregation
# ---------------------------------------------------------------------------

# layers reported with both .self_s and .calls
LAYER_CALLS = tuple(layer for layer in trace.LAYERS if layer not in trace.LAYER_ONLY)

SPARK_KEYS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
    "spark.python_rows": ("python_rows", "count"),
    "spark.output_bytes": ("output_bytes", "bytes"),
    "storage.files_written": ("files_written", "count"),
    "storage.bytes_written": ("bytes_written", "bytes"),
}


def execution_layers(e: Execution) -> dict[str, float]:
    """Flat per-layer figures of one traced execution."""
    registry = trace.layer_totals(e.layers, "registry")
    out: dict[str, float] = {
        "queries.build_s": e.build_s,
        "queries.build_jobs": e.spark.get("build_jobs", 0),
        "registry.tables_s": registry["total_s"],
        "registry.self_s": registry["self_s"],
        "registry.calls": registry["calls"],
        "queries.self_s": trace.layer_totals(e.layers, trace.QUERIES)["self_s"],
        "action.wall_s": e.action_s,
        "action.driver_gap_s": e.spark.get("action_driver_gap_s", 0.0),
        "spark.stray_jobs": e.spark.get("stray_jobs", 0),
        "cache.leaked_rdds": e.leaked_rdds,
        "cache.leaked_queries": int(e.leaked_rdds > 0),
    }
    for layer in LAYER_CALLS:
        t = trace.layer_totals(e.layers, layer)
        out[f"{layer}.self_s"] = t["self_s"]
        out[f"{layer}.calls"] = t["calls"]
    totals = e.spark.get("totals", {})
    for name, (key, _unit) in SPARK_KEYS.items():
        out[name] = totals.get(key, 0)
    return out


def per_layer(execs: list[Execution], setup_layers: dict) -> tuple[dict, dict]:
    """Per-layer metrics of one warm pass: each figure summed over a traced
    warm pass's executions, averaged over the traced warm passes. Also the
    tracing overhead from the alternating untraced/traced warm passes."""
    traced = [e for e in execs if e.traced and e.phase == "warm"]
    passes = max(len(traced) // max(len({e.query for e in traced}), 1), 1)
    per_query: dict[str, dict] = {}
    for e in traced:
        pq = per_query.setdefault(e.query, {})
        for k, v in execution_layers(e).items():
            pq[k] = pq.get(k, 0) + v / passes
    metrics: dict[str, float] = {}
    for pq in per_query.values():
        for k, v in pq.items():
            metrics[k] = metrics.get(k, 0) + v
    untraced_wall = sum(per_query_warm(execs, traced=False).values())
    traced_wall = sum(per_query_warm(execs, traced=True).values())
    metrics["trace.untraced_warm_wall_s"] = untraced_wall
    metrics["trace.traced_warm_wall_s"] = traced_wall
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    metrics["session.build_session_s"] = trace.layer_totals(setup_layers, "session")["total_s"]
    cold = [e for e in execs if e.phase == "cold"]
    metrics["cold.queries.build_s"] = sum(e.build_s for e in cold)
    metrics["cold.spark.jobs"] = sum(e.spark.get("totals", {}).get("jobs", 0) for e in cold)
    return metrics, per_query


def unit_of(metric: str) -> str:
    if metric in SPARK_KEYS:
        return SPARK_KEYS[metric][1]
    if metric.endswith("_s"):
        return "s"
    return "count"
