#!/usr/bin/env python3
"""Regenerate ``perfbench/pins.json``, the pinned result digests.

    python3 perfbench/pin.py --raw .perfbench_out/pins-a.json
    python3 perfbench/pin.py --raw .perfbench_out/pins-b.json
    python3 perfbench/pin.py --merge .perfbench_out/pins-a.json .perfbench_out/pins-b.json

Each ``--raw`` run executes every workload query twice in one session and
records both digests. ``--merge`` pins a field (row count, schema, hash) only
where all runs agree; a query whose hash differs between runs of the same
code keeps row count and schema and is listed under ``unstable``. Pin from a
tree whose oracle parity sweep reads bad=0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402


def raw(path: str) -> None:
    scratch = os.path.join(ROOT, ".perfbench_run", f"pin-{os.getpid()}")
    run.pin_environment(scratch)
    names = sorted({q for w in harness.WORKLOADS.values() for q in w.queries})
    try:
        spark = harness.start_session(scratch)
        from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

        out = {}
        for name in names:
            out[name] = []
            for _ in range(2):
                out[name].append(harness.digest(CATALOG[name].fn(spark, harness.DATA_DIR)))
                harness.sweep(spark)
            run.log(f"{name}: {out[name][0]['rows']} rows")
    finally:
        run.stop_spark(harness)
        shutil.rmtree(scratch, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)


def merge(paths: list[str]) -> None:
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.load(fh))
    pins, unstable = {}, []
    for name in sorted(runs[0]):
        seen = [d for r in runs for d in r[name]]
        pin = {
            key: seen[0][key] if all(d[key] == seen[0][key] for d in seen) else None
            for key in ("rows", "schema", "hash")
        }
        if pin["hash"] is None:
            unstable.append(name)
        pins[name] = pin
    doc = {"data": "sf0.01", "unstable": unstable, "queries": pins}
    with open(harness.PINS_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(f"pinned {len(pins)} queries; unstable: {unstable}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--raw", metavar="OUT")
    g.add_argument("--merge", nargs="+", metavar="RAW")
    args = ap.parse_args()
    raw(args.raw) if args.raw else merge(args.merge)
