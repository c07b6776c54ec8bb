"""Tests of the catalog benchmark itself.

    python3 -m pytest perfbench/tests -q

They start a local[2] Spark session on the bundled inputs; the end-to-end
schema test runs a two-query workload once untraced and once traced.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402
from perfbench.workloads import WARM_PASSES, Workload  # noqa: E402

SF0001 = os.path.join(harness.HERE, "data", "sf0.001")
TINY = Workload(why="test", queries=("op_filter_null", "op_join_inner"), python_udfs=True)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(path)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    return path


@pytest.fixture()
def spark(scratch):
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession() or harness.start_session(scratch)
    yield s
    harness.sweep(s)


def test_check_accepts_match_and_skips_unpinned_fields():
    got = {"rows": 3, "schema": "struct<a:int>", "hash": "42"}
    assert harness.check(dict(got), got) is None
    assert harness.check({"rows": 3, "schema": "struct<a:int>", "hash": None}, got) is None
    assert harness.check(None, got) == "no pin"


@pytest.mark.parametrize("field,bad", [("rows", 4), ("schema", "struct<a:bigint>"), ("hash", "43")])
def test_check_flags_each_corrupted_field(field, bad):
    got = {"rows": 3, "schema": "struct<a:int>", "hash": "42"}
    assert field in harness.check({**got, field: bad}, got)


def test_corrupted_pin_counts_as_failed_execution(spark):
    pins = harness.load_pins()
    name = "op_filter_null"
    runner = harness.Runner(spark, harness.DATA_DIR, pins)
    assert runner.execute(name, "cold", False).error is None
    corrupted = {name: {**pins[name], "hash": str(int(pins[name]["hash"]) + 1)}}
    ex = harness.Runner(spark, harness.DATA_DIR, corrupted).execute(name, "warm", False)
    assert ex.error is not None and ex.error.startswith("digest mismatch: hash")


def test_digest_is_order_insensitive_and_reads_every_column(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "k int, v string")
    a = harness.digest(df)
    assert a == harness.digest(df.orderBy(df.k.desc()))
    assert a["rows"] == 3
    assert a != harness.digest(df.select("k", df.v.substr(1, 0).alias("v")))


def test_bootstrap_ci_digest_forces_what_count_prunes(spark):
    """count() on op_bootstrap_ci lets Catalyst drop the bootstrap
    aggregate (a one-row global aggregate needs no input to count); the
    digest action reads every column, so the resampling work stays."""
    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

    df = CATALOG["op_bootstrap_ci"].fn(spark, SF0001)

    def optimized(frame) -> str:
        return frame._jdf.queryExecution().optimizedPlan().toString()

    assert "md5" not in optimized(df.groupBy().count())
    assert "md5" in optimized(harness.digest_frame(df))
    assert df.count() == harness.digest(df)["rows"] == 1


def test_tail_is_interpolated_p90_and_slowdown_is_relative():
    s = harness.latency_summary({str(i): float(i) for i in range(1, 8)}, [harness.REF_NOMINAL_S])
    assert s["tail_s"] == pytest.approx(6.4) and s["slowdown"] == 1.0
    assert s["tail_pct"] == 90.0 and s["samples"] == 7


def test_sweep_counts_cached_frames_before_clearing(spark):
    df = spark.range(10).cache()
    df.count()
    assert harness.sweep(spark) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_every_declared_metric_is_reported_with_its_unit(monkeypatch, scratch):
    bench = _benchmark_json()
    monkeypatch.setitem(harness.WORKLOADS, "tiny", TINY)
    for traced, section in ((False, "end_to_end"), (True, "per_layer")):
        rec = harness.run_workload("tiny", 7, 0, traced, scratch, lambda m: None)
        assert rec["warm_passes"] == WARM_PASSES
        line = run.result_line(rec, traced, harness)
        assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 4
        for m in bench[section]:
            assert m["name"] in line["metrics"], m["name"]
            assert line["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(line["metrics"][m["name"]]["value"], (int, float))
    assert set(line["metrics"]) >= {m["name"] for m in bench["per_layer"]}
