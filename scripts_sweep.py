"""Full-catalog sweeps against the DuckDB oracle: one loop, one mode per run.

Usage: python scripts_sweep.py MODE [sf_dir] [name ...]

Runs every CATALOG query (or only the named ones) at ``sf_dir`` (default
/root/testdata/sf0.01) and prints one ``<VERDICT> <name>[: detail] (<s>s)``
line per query, then ``<mode> DONE bad=<n> in <s>s``. Exit 1 on any bad
result, except in ``strict`` mode, which is advisory and exits 0; exit 2 on
an unknown mode.

Modes:
  parity       oracle parity (``compare``) on the engine's own session,
               ``session.build_session`` — the local replica of the
               driver's gate.
  strict       the external driver's pandas canonicalization bit for bit:
               both engines through ``.toPandas()`` / ``.df()``, columns
               sorted by name, rows sorted by all columns, then per-column
               dtype and per-cell ``repr`` compared with no normalization
               (``compare`` reads DuckDB through ``fetchall()``, which
               turns HUGEINT into int and masks dtype divergences). Unsortable
               cells are an ``ERR``, as they are a driver ``err`` row. It
               over-flags on purpose: int-width, datetime64[ns]-vs-[us],
               date-vs-datetime and None-vs-NaN deltas are measured
               driver-benign (registry.fin's rules); anything else is a
               future red driver row.
  aqeoff       ``compare`` with adaptive execution off and 5 shuffle
               partitions: no runtime stage reuse, several boundary samples
               per logical exchange (the regime of the round-4 two-phase
               window bug, where ``spark_partition_id()`` broke plan
               identity).
  onepart      ``compare`` with 1 shuffle partition and AQE off: empty
               offsets, single-tile ntile, trivial two-phase branches.
  nocodegen    ``compare`` with whole-stage codegen off and the NO_CODEGEN
               factory: the interpreted expression path.
  nobroadcast  ``compare`` with autoBroadcastJoinThreshold=-1: every
               unhinted join plans as a shuffled join, so results that
               silently depended on a broadcast build side show up;
               explicit ``broadcast()`` hints still apply.
  determinism  every query runs twice in one session, caches cleared in
               between, and the repr-canonical pandas frames must be equal
               (the driver's hash stability: collect_list order, untied
               LIMIT cuts, float reduction order).

Every mode but ``parity`` runs on a vanilla session, as the external driver
does: UI and progress bar off, ``session.driver_memory()``, log level ERROR,
``local[$SPARK_GRAFT_CPUS or 8]``, plus the mode's confs below.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from pyspark.sql import SparkSession  # noqa: E402

from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG  # noqa: E402
from amazon_fresh_sql_data_engineering_spark.session import build_session, driver_memory  # noqa: E402
from tests.oracle_compare import compare, duckdb_connect  # noqa: E402

_CONFS = {
    "strict": {"spark.sql.shuffle.partitions": "8"},
    "aqeoff": {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "5"},
    "onepart": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
        "spark.default.parallelism": "1",
    },
    "nocodegen": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        "spark.sql.shuffle.partitions": "8",
    },
    "nobroadcast": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    },
    "determinism": {},
}
MODES = ("parity", *_CONFS)


def _session(mode: str):
    master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
    if mode == "parity":
        return build_session(app_name="parity-sweep", master=master, shuffle_partitions=8)
    builder = SparkSession.builder.master(master)
    for key, value in {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": driver_memory(),
        **_CONFS[mode],
    }.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _check_oracle(spark, con, sf_dir, spec):
    if spec.oracle is None:
        return "NO-ORACLE", f"rows={spec.fn(spark, sf_dir).count()}"
    problems = compare(spec.fn(spark, sf_dir), con, spec.oracle)
    return ("MISMATCH", "; ".join(problems)[:400]) if problems else ("OK", "")


def _sorted_frame(p):
    p = p[sorted(p.columns)]
    try:
        return p.sort_values(list(p.columns)).reset_index(drop=True)
    except TypeError as e:  # unsortable cells: a driver `err` row
        raise RuntimeError(f"CANON-UNSORTABLE: {e}") from e


def _check_strict(spark, con, sf_dir, spec):
    if spec.oracle is None:
        return "NO-ORACLE", ""
    s = _sorted_frame(spec.fn(spark, sf_dir).toPandas())
    o = _sorted_frame(con.execute(spec.oracle).df())
    if list(s.columns) != list(o.columns):
        probs = [f"cols {list(s.columns)} vs {list(o.columns)}"]
    elif len(s) != len(o):
        probs = [f"rows {len(s)} vs {len(o)}"]
    else:
        probs = []
        for c in s.columns:
            if str(s[c].dtype) != str(o[c].dtype):
                probs.append(f"dtype[{c}] {s[c].dtype} vs {o[c].dtype}")
            sv, ov = s[c].values, o[c].values
            neq = [i for i in range(len(s)) if repr(sv[i]) != repr(ov[i])]
            if neq:
                i = neq[0]
                probs.append(f"val[{c}] {len(neq)} diffs e.g. row {i}: {sv[i]!r} vs {ov[i]!r}")
    return ("MISMATCH", "; ".join(probs)) if probs else ("OK", "")


def _repr_frame(df):
    """The driver's canonical frame: sorted columns, rows sorted by repr."""
    p = df.toPandas()
    p = p[sorted(p.columns)]
    if len(p):
        p = p.sort_values(by=list(p.columns), key=lambda s: s.map(repr)).reset_index(drop=True)
    return p.map(repr)


def _check_determinism(spark, con, sf_dir, spec):
    a = _repr_frame(spec.fn(spark, sf_dir))
    spark.catalog.clearCache()
    for _, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist()
    b = _repr_frame(spec.fn(spark, sf_dir))
    return ("OK", "") if a.equals(b) else ("NONDET", "")


_CHECKS = {"strict": _check_strict, "determinism": _check_determinism}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in MODES:
        print(f"usage: scripts_sweep.py MODE [sf_dir] [name ...]; MODE is one of {', '.join(MODES)}")
        return 2
    mode = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    only = set(argv[2:])

    spark = _session(mode)
    con = duckdb_connect(sf_dir)
    check = _CHECKS.get(mode, _check_oracle)

    n_bad = 0
    t_all = time.time()
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            verdict, detail = check(spark, con, sf_dir, spec)
        except Exception as ex:  # noqa: BLE001 — report and continue the sweep
            verdict, detail = "ERR", " ".join(f"{type(ex).__name__}: {ex}".split())[:300]
        n_bad += verdict not in ("OK", "NO-ORACLE")
        print(f"{verdict:<9} {name}{': ' + detail if detail else ''} ({time.time() - t0:.1f}s)", flush=True)
    print(f"\n{mode} DONE bad={n_bad} in {time.time() - t_all:.0f}s")
    return 1 if n_bad and mode != "strict" else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
