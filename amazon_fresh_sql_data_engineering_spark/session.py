"""Configured SparkSession builder.

The reference relied on PostgreSQL's planner (SURVEY.md §4); here Catalyst is
the planner and these session-level knobs are the engine's "optimizer
config". Every setting is chosen for determinism vs the DuckDB oracle and for
scale-out behavior:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — at
  100 TB this is what turns a static 32-partition plan into right-sized
  stages.
- Arrow enabled — any pandas-UDF exchange is columnar, not pickled rows.
- The semantics confs (UTC session time zone, ANSI off, CORRECTED date
  parsing, nanosAsLong) come from ``registry.ensure_engine_confs``, the one
  list the engine also pins on a session someone else built:
  - UTC — timestamp determinism vs the oracle;
  - ANSI off — failed casts yield NULL like the reference's
    validate-before-cast pipeline expects (ref TablesCreated-Imported.sql:245
    guards every cast with a regex; we replicate that pattern, see
    functions/cleaning.py);
  - ``timeParserPolicy=CORRECTED`` — ``to_date('M/d/yyyy')`` matches PG's
    1-2-digit tolerant ``MM/DD/YYYY`` (ref TablesCreated-Imported.sql:174).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .registry import ensure_engine_confs

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``spark.driver.memory`` for a session this process launches:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory (the
    rest is headroom for Python workers and the OS), between 1g and 16g.
    The sweep scripts that build their own sessions take it from here."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, phys // 2 // 2**30))}g"


def build_session(
    app_name: str = "amazon-fresh-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the caller passes its own ``master``/conf; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # In local mode the driver JVM *is* the executor; Spark's 1g default
        # heap is undersized for 32 task threads plus checkpoint/broadcast
        # blocks accumulated across a long catalog run (bench OOMed at 211
        # queries), and a heap past physical memory gets the JVM killed.
        # Only takes effect when this process launches the JVM — on a real
        # cluster the submitter's --driver-memory governs.
        .config("spark.driver.memory", driver_memory())
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Runtime adaptivity: coalesce small shuffle partitions, split skewed
        # ones, convert to broadcast joins when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Columnar Python exchange for pandas UDFs / mapInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep parquet scans vectorized + pushdown-friendly (defaults, spelled
        # out because they are load-bearing for the 100 TB design).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Small-file split parallelism: maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/defaultParallelism)). With the 4 MiB
        # default open-cost an 11 MiB table scans as 3 splits and CPU-heavy
        # projections (sha256 staging synthesis) run on 3 of 32 cores. 128 KiB
        # lets totalBytes/parallelism govern instead; at cluster scale
        # bytesPerCore >> maxPartitionBytes so splits stay 128 MiB — a no-op.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # Quiet driver-side UI/log noise in test runs. The console progress
        # bar is written with carriage returns onto stdout lines a caller
        # prints (a sweep's OK/MISMATCH results); ``extra_conf`` can turn
        # it back on.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_engine_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
