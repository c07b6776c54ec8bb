"""Local replica of the driver's DuckDB-oracle comparison.

Runs a CATALOG query's Spark implementation and its oracle SQL through DuckDB
on the same parquet, then compares row count, column names, and
order-insensitive values. Used by tests/test_oracle_parity.py so mismatches
surface locally before the driver's t2 gate.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb

from amazon_fresh_sql_data_engineering_spark.sources.loaders import TABLE_NAMES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # full-precision repr: the driver hashes exact values, so the local
        # gate must not be more forgiving than the driver's
        return f"f:{v!r}"
    if isinstance(v, _dt.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def _rowset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
}
_SPARK_FLOAT = {"float", "double"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE", "REAL"}


def _dtype_problems(spark_df, con, sql: str) -> list[str]:
    """Driver-dtype gate: ``fetchall()`` masks divergences the driver's
    pandas path exposes. DuckDB HUGEINT (integer sum()) becomes float64 in
    ``.df()`` while Spark ships int64 — the driver hash distinguishes 216
    from 216.0 (r3 op_bool_aggs red) even though fetchall() returns equal
    Python ints. Likewise list cells break the driver's sort_values
    canonicalizer. Planning-only: executes nothing."""
    probs = []
    for f in spark_df.schema.fields:
        s = f.dataType.simpleString()
        if s.startswith(("array<", "map<", "struct<")):
            probs.append(
                f"spark column {f.name!r} is {s}: unsortable at the driver "
                "— final-project through array_join/format_string (registry rule 2)"
            )
    try:
        rel = con.sql(sql)
        duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    except Exception:
        return probs  # oracle with side effects / non-relation; value compare will catch
    spark_types = {f.name: f.dataType.simpleString() for f in spark_df.schema.fields}
    for c, dt in duck_types.items():
        if dt in ("HUGEINT", "UHUGEINT"):
            probs.append(
                f"oracle column {c!r} is {dt}: pandas converts it to float64 at "
                "the driver while Spark ships int64 — CAST(... AS BIGINT) (registry rule 3)"
            )
        st = spark_types.get(c)
        if st is None:
            continue
        if (st in _SPARK_INT and dt in _DUCK_FLOAT) or (
            st in _SPARK_FLOAT and dt in _DUCK_INT
        ):
            probs.append(
                f"int/float family mismatch on {c!r}: spark={st} duck={dt} "
                "— driver hash distinguishes 216 from 216.0"
            )
    return probs


def compare(spark_df, con, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty = parity)."""
    problems: list[str] = []
    problems.extend(_dtype_problems(spark_df, con, sql))
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    a, b = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
    if a != b:
        only_s = [r for r in a if r not in set(b)][:5]
        only_d = [r for r in b if r not in set(a)][:5]
        problems.append(f"values differ; spark-only={only_s} duck-only={only_d}")
    return problems
