"""Perturbation sweeps: full-catalog oracle parity under hostile configs.

The driver runs a VANILLA session (AQE on, 200 shuffle partitions), and the
engine's own session adds tuned confs — so the local parity gates exercise
only two physical regimes. This script replays every catalog query against
its DuckDB oracle under configurations that change PHYSICAL PLANNING, which
is where plan-identity bugs hide. It exists because the round-4 AQE-off
sweep caught a real one: the two-phase window family composed wrong cumsums
whenever adaptive execution was off, since `spark_partition_id()` poisons
canonical plan equality (CacheManager + ReuseExchange both miss) and only
AQE's runtime stage-level reuse of the deterministic exchange below the
stamp kept branch views consistent (fixed: eager localCheckpoint pin in
operators/ranking.py; gate: test_two_phase_correct_with_aqe_disabled).

Modes:
  aqeoff      adaptive execution OFF + 5 shuffle partitions (the round-4
              bug's regime: no runtime stage reuse, multiple boundary
              samples per logical exchange)
  onepart     1 shuffle partition + AQE off (degenerate boundaries: empty
              offsets, single-tile ntile, every two-phase branch trivial)
  nocodegen   whole-stage codegen OFF + NO_CODEGEN factory (interpreted
              expression path — distinct eval order / allocation behavior)
  determinism run every query TWICE in one session (vanilla confs), compare
              canonicalized pandas frames exactly — the driver's
              hash-stability failure mode (nondeterministic collect_list
              order, un-tiebroken LIMIT cuts, float reduction order)
  nobroadcast autoBroadcastJoinThreshold=-1 (r8): the optimizer may never
              CHOOSE a broadcast join — every non-hinted join plans as
              SortMergeJoin/ShuffledHashJoin, flushing out results that
              silently depended on build-side semantics (null handling,
              duplicate keys) or on a small-table broadcast the optimizer
              happened to pick; explicit broadcast() hints still apply,
              so the engine's own hinted plans are exercised against a
              maximally shuffled everything-else

Usage: python scripts_perturb_sweep.py <mode> [sf_dir] [name ...]
Exit 1 on any failure. Round-4 baseline: all four modes green at sf0.01.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

MODES = ("aqeoff", "onepart", "nocodegen", "determinism", "nobroadcast")


def build_session(mode: str):
    from pyspark.sql import SparkSession

    from amazon_fresh_sql_data_engineering_spark.session import driver_memory

    b = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if mode == "aqeoff":
        b = b.config("spark.sql.adaptive.enabled", "false").config(
            "spark.sql.shuffle.partitions", "5"
        )
    elif mode == "onepart":
        b = (
            b.config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "1")
            .config("spark.default.parallelism", "1")
        )
    elif mode == "nobroadcast":
        b = b.config("spark.sql.autoBroadcastJoinThreshold", "-1").config(
            "spark.sql.shuffle.partitions", "8"
        )
    elif mode == "nocodegen":
        b = (
            b.config("spark.sql.codegen.wholeStage", "false")
            .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
            .config("spark.sql.shuffle.partitions", "8")
        )
    return b.getOrCreate()


def canon(df):
    """The driver's canonical frame: sorted columns, rows sorted by repr."""
    p = df.toPandas()
    p = p[sorted(p.columns)]
    if len(p):
        p = p.sort_values(
            by=list(p.columns), key=lambda s: s.map(repr)
        ).reset_index(drop=True)
    # DataFrame.map landed in pandas 2.1 (renamed from applymap)
    return p.map(repr) if hasattr(p, "map") else p.applymap(repr)


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "aqeoff"
    if mode not in MODES:
        print(f"mode must be one of {MODES}, got {mode!r}")
        return 2
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])

    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG
    from oracle_compare import compare, duckdb_connect

    spark = build_session(mode)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connect(sf_dir)

    n_bad = 0
    t_all = time.time()
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            if mode == "determinism":
                a = canon(spec.fn(spark, sf_dir))
                spark.catalog.clearCache()
                for _, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
                    rdd.unpersist()
                b = canon(spec.fn(spark, sf_dir))
                if not a.equals(b):
                    n_bad += 1
                    print(f"NONDET    {name} ({time.time()-t0:.1f}s)", flush=True)
                else:
                    print(f"OK        {name} ({time.time()-t0:.1f}s)", flush=True)
            elif spec.oracle is None:
                n = spec.fn(spark, sf_dir).count()
                print(f"NO-ORACLE {name}: rows={n} ({time.time()-t0:.1f}s)", flush=True)
            else:
                problems = compare(spec.fn(spark, sf_dir), con, spec.oracle)
                if problems:
                    n_bad += 1
                    print(f"MISMATCH  {name}: {problems} ({time.time()-t0:.1f}s)", flush=True)
                else:
                    print(f"OK        {name} ({time.time()-t0:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue the sweep
            n_bad += 1
            print(f"ERR       {name}: {exc!r} ({time.time()-t0:.1f}s)"[:400], flush=True)
    print(f"\n{mode} DONE bad={n_bad} in {time.time()-t_all:.0f}s")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
