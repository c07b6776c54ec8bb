"""Golden tests: every CATALOG query with an oracle must match DuckDB.

This is a local replica of the driver's t2 gate (sqllogictest-style,
SURVEY.md §5 layer 3) run at sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import pytest

from amazon_fresh_sql_data_engineering_spark import fence
from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG
from tests.oracle_compare import compare, duckdb_connect

_WITH_ORACLE = sorted(n for n, s in CATALOG.items() if s.oracle is not None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = CATALOG[name]
    df = spec.fn(spark, sf_dir)
    problems = compare(df, duck, spec.oracle)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_all_queries_return_rows(spark, sf_dir):
    """Every query returns rows, and — the catalog leak gate — once its
    result is counted, ``fence.release_all()`` leaves no persisted RDD and
    no cached plan behind: every pin a query makes goes through the fence."""
    cache = spark._jsparkSession.sharedState().cacheManager()

    def sweep():
        spark.catalog.clearCache()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()

    sweep()
    empties, leaks = [], {}
    for name, spec in CATALOG.items():
        if spec.fn(spark, sf_dir).limit(1).count() == 0 and name != "q_no_orders":
            empties.append(name)
        fence.release_all()
        n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
        if n_rdds or not cache.isEmpty():
            leaks[name] = n_rdds
            sweep()  # attribute each leak to the query that made it
    # q_no_orders may legitimately be empty depending on data; everything else
    # must discriminate (FIXTURES.md distribution requirements).
    assert not empties, f"queries returning zero rows: {empties}"
    assert not leaks, f"queries leaving pins behind (persistent RDDs): {leaks}"


def test_no_decimal_reaches_any_output_schema(spark, sf_dir):
    """Regression gate for the round-1 failure class: DECIMAL is the
    internal aggregation dtype only — engines canonicalize decimal reprs
    differently (trailing zeros), so any decimal column in an output
    schema would break the driver's value hash. Schema-only check: builds
    every plan, executes nothing heavy."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    offenders = {}
    for name, spec in CATALOG.items():
        df = spec.fn(spark, sf_dir)
        # Arrays/maps/structs are equally fatal at the driver: its pandas
        # canonicalizer sorts rows by every column and list cells raise
        # TypeError (3 driver `err` rows in r3) — registry fin() rule 2.
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (DecimalType, ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"driver-unsafe (decimal/array/map/struct) output columns: {offenders}"
    )


def test_every_catalog_query_has_an_oracle():
    """Driver-contract completeness gate: a name in queries() without an
    oracle_sql() entry is a permanent un-checkable row in the external
    correctness report. Round 2 eliminated the last oracle-less query; this
    keeps it that way."""
    missing = [n for n, s in CATALOG.items() if s.oracle is None]
    assert not missing, f"queries registered without oracles: {missing}"
