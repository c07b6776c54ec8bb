"""The parquet read primitive (sources/loaders.read_parquet): the inferred
schema is memoized on (path, on-disk fingerprint, reader options, inference
confs), so a repeated table load launches no Spark job, a rewritten path is
re-inferred, remote paths bypass the memo, and no package module reads
parquet any other way. Also the literal-frame primitive
(sources/loaders.local_frame): an Arrow ``LocalRelation`` with the row-list
path's rows and schema, and the package's one ``createDataFrame``."""

from __future__ import annotations

import ast
import calendar
import datetime
import decimal
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import amazon_fresh_sql_data_engineering_spark as PKG
from amazon_fresh_sql_data_engineering_spark import fence
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


# ---------------------------------------------------------------------------
# Driver-local frames: local_frame is the package's one createDataFrame
# ---------------------------------------------------------------------------


def _mv_state_schema(spark):
    """The bucketed MV sink's snapshot schema: keys, the non-nullable
    ``__mv_cnt``, the sums, then the bucket and stamp columns."""
    from amazon_fresh_sql_data_engineering_spark.operators.mv import mv_build
    from amazon_fresh_sql_data_engineering_spark.streaming.mv import _BUCKET, _STAMP

    base = spark.createDataFrame([("a", 1.0)], "g string, x double")
    return (
        mv_build(base, ["g"], {"rev": "x"})
        .withColumn(_BUCKET, F.lit(0))
        .withColumn(_STAMP, F.lit(7).cast("long"))
        .schema
    )


@pytest.mark.parametrize(
    "rows,schema",
    [
        (
            [
                (datetime.date(1996, 1, 2), decimal.Decimal("12.34"), None, 7),
                (datetime.date(2001, 12, 31), decimal.Decimal("-0.50"), 5, None),
            ],
            "d date, m decimal(18,2), l long, i int",
        ),
        ([("x", None), (None, 3)], "s string, l long"),
        ([], "id long, cluster_id long"),
        ([], _mv_state_schema),
    ],
    ids=["date-decimal-nulls", "ddl-nulls", "empty-ddl", "empty-mv-state"],
)
def test_local_frame_matches_the_row_list_path(spark, rows, schema):
    """Same rows and the same schema, nullability included, as a row list
    given to ``createDataFrame``."""
    if callable(schema):
        schema = schema(spark)
    got = L.local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_frame_keeps_a_struct_schema_nullability(spark):
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), True)]
    )
    got = L.local_frame(spark, [(1, None), (2, "b")], schema)
    assert got.schema == schema
    assert [tuple(r) for r in got.collect()] == [(1, None), (2, "b")]


def test_local_frame_reads_a_naive_timestamp_as_utc(spark):
    """A naive ``datetime`` is UTC wall-clock time whatever the Python
    process's local zone is (the row-list path would use that zone)."""
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    df = L.local_frame(spark, [(ts,)], "ts timestamp")
    row = df.select(
        F.unix_timestamp("ts").alias("epoch"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("wall"),
    ).collect()[0]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert row["epoch"] == calendar.timegm(ts.timetuple())
    assert row["wall"] == "2024-01-02 03:04:05"


def test_local_frame_raises_on_what_arrow_cannot_carry(spark):
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        L.local_frame(spark, [("not a number",)], "n long")
    with pytest.raises(ValueError, match="non-nullable"):
        L.local_frame(
            spark, [(None,)], T.StructType([T.StructField("k", T.LongType(), False)])
        )
    with pytest.raises(ValueError, match="2 values"):
        L.local_frame(spark, [(1, 2), (3,)], "a long, b long")


@pytest.mark.parametrize("query", ["q_constraint_catalog", "op_range_join", "q_insert_values"])
def test_literal_frames_are_local_relations(spark, sf_dir, query):
    """Catalog queries that build literal rows plan them as a
    ``LocalRelation``: no ``LogicalRDD``, so no Python worker unpickles them."""
    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

    try:
        plan = CATALOG[query].fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    finally:
        fence.release_all()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def _create_dataframe_refs(source: str) -> list[int]:
    """Lines that name the ``createDataFrame`` attribute."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]


def test_lint_flags_create_dataframe():
    src = "a = spark.createDataFrame(rows, s)\nb = 'createDataFrame'\nc = local_frame(spark, rows, s)\n"
    assert _create_dataframe_refs(src) == [1]


def test_only_the_loaders_module_creates_dataframes():
    """Every literal frame goes through ``local_frame``; a row list given to
    ``createDataFrame`` would bring back the ``LogicalRDD`` and its Python
    worker pool."""
    root = os.path.dirname(PKG.__file__)
    loaders_py = os.path.join(root, "sources", "loaders.py")
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == loaders_py:
                continue
            src = open(path, encoding="utf-8").read()
            hits += [f"{os.path.relpath(path, root)}:{n}" for n in _create_dataframe_refs(src)]
    assert hits == []
    assert _create_dataframe_refs(open(loaders_py, encoding="utf-8").read())
