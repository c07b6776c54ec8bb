"""The parquet read primitive (sources/loaders.read_parquet): the inferred
schema is memoized on (path, on-disk fingerprint, reader options, inference
confs), so a repeated table load launches no Spark job, a rewritten path is
re-inferred, remote paths bypass the memo, and no package module reads
parquet any other way."""

from __future__ import annotations

import ast
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import amazon_fresh_sql_data_engineering_spark as PKG
from amazon_fresh_sql_data_engineering_spark.sources import loaders as L

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    return sc.statusStore().jobsList(None).size()


def test_second_load_launches_no_job_and_returns_a_fresh_relation(spark, sf_dir):
    first = L.load_table(spark, sf_dir, "orders")
    j0 = _jobs(spark)
    again = L.load_table(spark, sf_dir, "orders")
    assert _jobs(spark) == j0
    assert again.schema == first.schema
    # fresh attribute ids per load: a self-join of two loads resolves
    a, b = first.alias("a"), again.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"))
    assert joined.count() == first.count()


def test_dir_overwritten_with_new_schema_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "x int, y string").write.parquet(p)
    assert L.read_parquet(spark, p).columns == ["x", "y"]
    spark.createDataFrame([(2.5,)], "z double").write.mode("overwrite").parquet(p)
    df = L.read_parquet(spark, p)
    assert df.columns == ["z"]
    assert [r.z for r in df.collect()] == [2.5]


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert L.read_parquet(spark, p).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), p)
    df = L.read_parquet(spark, p)
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_inference_confs_are_part_of_the_key(spark, sf_dir):
    path = L.table_path(sf_dir, "events")
    before = spark.conf.get(NANOS, None)
    try:
        spark.conf.set(NANOS, "true")
        L.read_parquet(spark, path)
        s0 = L.schema_cache_stats()
        spark.conf.set(NANOS, "false")
        L.read_parquet(spark, path)
        s1 = L.schema_cache_stats()
        assert (s1["misses"], s1["hits"]) == (s0["misses"] + 1, s0["hits"])
        spark.conf.set(NANOS, "true")
        L.read_parquet(spark, path)
        assert L.schema_cache_stats()["hits"] == s1["hits"] + 1
    finally:
        if before is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, before)


def test_reader_options_are_part_of_the_key(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "x int").write.parquet(f"{p}/k=1")
    spark.createDataFrame([(2, "b")], "x int, y string").write.parquet(f"{p}/k=2")
    assert "y" in L.read_parquet(spark, p, mergeSchema="true").columns
    # same fingerprint, different option: re-inferred, not the merged schema
    s0 = L.schema_cache_stats()
    L.read_parquet(spark, p, mergeSchema="false")
    assert L.schema_cache_stats()["misses"] == s0["misses"] + 1


class _FakeReader:
    """Records reads; a remote path must reach ``parquet`` without a
    ``schema`` call (no filesystem is touched)."""

    def __init__(self, log):
        self.log = log

    def parquet(self, *paths):
        self.log.append(paths)
        return "df"

    def schema(self, _):
        raise AssertionError("remote path was given a memoized schema")


class _FakeSpark:
    def __init__(self):
        self.log = []
        self.read = _FakeReader(self.log)


def test_remote_path_bypasses_the_memo():
    assert L._local_path("s3a://bucket/t.parquet") is None
    assert L._local_path("hdfs://nn/t") is None
    assert L._local_path("/data/t-*.parquet") is None  # glob: Spark expands it
    assert L._local_path("data/t.parquet") is None  # the JVM's cwd decides
    assert L._local_path("file:///data/t.parquet") == "/data/t.parquet"
    fake = _FakeSpark()
    s0 = L.schema_cache_stats()
    for _ in range(2):
        assert L.read_parquet(fake, "s3a://bucket/t.parquet") == "df"
    s1 = L.schema_cache_stats()
    assert fake.log == [("s3a://bucket/t.parquet",)] * 2
    assert s1["bypasses"] == s0["bypasses"] + 2
    assert (s1["hits"], s1["misses"]) == (s0["hits"], s0["misses"])


def test_missing_path_raises_like_spark(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        L.read_parquet(spark, str(tmp_path / "nope"))


def test_file_uri_is_memoized(spark, sf_dir):
    path = "file://" + os.path.abspath(L.table_path(sf_dir, "nation"))
    L.read_parquet(spark, path)
    hits, j0 = L.schema_cache_stats()["hits"], _jobs(spark)
    df = L.read_parquet(spark, path)
    assert _jobs(spark) == j0
    assert L.schema_cache_stats()["hits"] == hits + 1
    assert df.count() == 25


def test_memo_is_bounded_fifo(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(L, "_SCHEMA_CACHE_CAP", 2)
    L.clear_schema_cache()
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}")
        spark.createDataFrame([(i,)], "x int").write.parquet(p)
        paths.append(p)
        L.read_parquet(spark, p)
    assert L.schema_cache_stats()["entries"] == 2
    L.read_parquet(spark, paths[2])
    L.read_parquet(spark, paths[0])  # oldest, evicted
    st = L.schema_cache_stats()
    assert (st["hits"], st["misses"]) == (1, 4)


def test_concurrent_reads_from_a_thread_pool(spark, sf_dir):
    """More threads than cores and a short switch interval: every call is
    counted once (a lost counter update breaks the sum) and every frame
    carries its own table's schema."""
    names = ["region", "nation", "supplier", "part", "customer"]
    expected = {n: L.load_table(spark, sf_dir, n).schema for n in names}
    calls = names * 8
    L.clear_schema_cache()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * (os.cpu_count() or 4)) as pool:
            futs = [
                (n, pool.submit(L.read_parquet, spark, L.table_path(sf_dir, n)))
                for n in calls
            ]
            got = [(n, f.result(timeout=120)) for n, f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert all(df.schema == expected[n] for n, df in got)
    st = L.schema_cache_stats()
    assert st["hits"] + st["misses"] == len(calls)
    assert st["entries"] == len(names)
    assert {n: df.count() for n, df in got[: len(names)]} == {
        n: L.load_table(spark, sf_dir, n).count() for n in names
    }


def _parquet_reads_outside_loaders() -> list[str]:
    """``<receiver>.read[...].parquet`` calls or references anywhere in the
    package except sources/loaders.py (``readStream`` is a different
    attribute)."""
    root = os.path.dirname(PKG.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path.endswith(os.path.join("sources", "loaders.py")):
                continue
            tree = ast.parse(open(path, encoding="utf-8").read())
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Attribute) and node.attr == "parquet"):
                    continue
                recv = node.value
                while isinstance(recv, (ast.Call, ast.Attribute)):
                    if isinstance(recv, ast.Attribute) and recv.attr == "read":
                        hits.append(f"{os.path.relpath(path, root)}:{node.lineno}")
                        break
                    recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return hits


def test_no_parquet_read_bypasses_the_primitive():
    """Every parquet read goes through ``read_parquet``; a plain
    ``spark.read.parquet`` would bring back one inference job per call."""
    assert _parquet_reads_outside_loaders() == []
