#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational_floor --seed 1 --seconds 25 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones. The
full record (per-query figures, tail percentiles and sample counts) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

The runner pins its environment before Spark starts: ``SPARK_GRAFT_CPUS``
(``nproc``), ``SPARK_GRAFT_DRIVER_MEM``, ``PYTHONPATH`` (the repository
root, so UDF workers import the package), ``SPARK_LOCAL_DIRS`` and
``TMPDIR`` (a fresh per-run directory under ``.perfbench_run/``, removed
afterwards). Exits 2 without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_fresh_sql_data_engineering_spark"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(scratch: str) -> None:
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    from perfbench.harness import DRIVER_MEM

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(harness) -> None:
    """Stop the SparkContext, then the JVM, and wait for every child."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while (left := harness.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def result_line(rec: dict, traced: bool, harness) -> dict:
    if traced:
        metrics = {
            k: {"value": v, "unit": harness.unit_of(k)} for k, v in sorted(rec["per_layer"].items())
        }
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in rec["end_to_end"].items()}
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"package {PACKAGE!r} not found under {ROOT}; nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    if args.workload not in harness.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(harness.WORKLOADS)}")
        return 2

    scratch = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    pin_environment(scratch)
    try:
        rec = harness.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), scratch, log
        )
    finally:
        stop_spark(harness)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    for name, (value, unit) in rec["end_to_end"].items():
        print(f"{name:14s} {value:12.4f} {unit}")
    for tier in ("cold", "warm"):
        t = rec[tier]
        print(
            f"{tier}_tail_s    {t['tail_s'] / t['slowdown']:12.4f} s  "
            f"(p{t['tail_pct']} of {t['samples']} per-query latencies; not gated)"
        )
        print(f"{tier} raw wall {t['wall_s']:.4f} s, host slowdown {t['slowdown']:.3f}")
    print(f"warm passes {rec['warm_passes']}; failed_frac {rec['failed_frac']:.4f}")
    print(json.dumps(result_line(rec, bool(args.trace), harness)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
