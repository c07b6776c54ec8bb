"""Full-catalog oracle-parity sweep: local replica of the driver's gate.

Runs every CATALOG query's Spark impl and DuckDB oracle at a given sf and
prints one line per query (OK / MISMATCH / ERR / NO-ORACLE). Exit code 1 on
any mismatch. Usage: python scripts_parity_sweep.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG
    from amazon_fresh_sql_data_engineering_spark.session import build_session
    from oracle_compare import compare, duckdb_connect

    spark = build_session(
        app_name="parity-sweep",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    con = duckdb_connect(sf_dir)

    n_bad = 0
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                print(f"NO-ORACLE {name}: rows={n} ({time.time()-t0:.1f}s)")
                continue
            problems = compare(df, con, spec.oracle)
        except Exception as ex:
            n_bad += 1
            print(f"ERR       {name}: {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if problems:
            n_bad += 1
            print(f"MISMATCH  {name}: {problems[0][:400]} ({time.time()-t0:.1f}s)")
        else:
            print(f"OK        {name} ({time.time()-t0:.1f}s)")
    print(f"\nDONE bad={n_bad}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
