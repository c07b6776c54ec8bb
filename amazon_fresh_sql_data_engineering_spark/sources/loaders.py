"""Sources: parquet table registry + CSV staging ingest.

Mirrors the reference's two ingest tiers (SURVEY.md §1.1) and its literal
rows:
- typed tables      -> ``read_parquet`` (columnar, pushdown-friendly)
- staging tables    -> ``spark.read.csv`` with an all-StringType schema and
  NO inference, matching the reference's all-TEXT staging DDL
  (ref TablesCreated-Imported.sql:80-103).
- literal rows      -> ``local_frame``: an Arrow ``LocalRelation`` built on
  the driver, the package's one ``createDataFrame`` (lint in
  tests/test_loaders.py).

At scale, the parquet reader is the workhorse: column pruning and predicate
pushdown reach the scan automatically as long as callers express filters and
projections declaratively (checked in tests/test_plans.py).

Schema memo. ``read_parquet`` is the package's one parquet read. A plain
``spark.read.parquet`` infers the schema from the file footers, and that
inference is one Spark job per call — on the catalog's sub-second queries it
was every job launched at plan build. ``read_parquet`` infers once and then
reads with ``spark.read.schema(s).parquet(...)``, which launches none. Each
call still returns a fresh relation with fresh attribute ids (only the
schema is memoized, never a DataFrame, so self-joins stay unambiguous).

- Key: the absolute path(s), a fingerprint of what is on disk, the reader
  options, and the session confs that change what parquet inference returns
  (``_SCHEMA_CONFS``).
- Fingerprint: for a file, its ``os.stat`` size, ``mtime_ns`` and inode; for
  a directory, the sorted (relpath, size, ``mtime_ns``, inode) of every file
  under it. A file rewritten in place, or a directory that gains, loses or
  rewrites a file, therefore misses and is re-inferred: a stale hit is
  impossible, which matters because a stale schema is a wrong result, not a
  slow one. An entry is stored only if the fingerprint did not change while
  the schema was being inferred.
- Bypass: a path with a non-``file:`` URI scheme (``s3a://``, ``hdfs://``…),
  a glob pattern, a relative path or a path that does not exist locally gets
  no fingerprint and is inferred on every call, exactly as
  ``spark.read.parquet`` does (missing paths raise the same
  ``AnalysisException``). Absolute schemeless paths are local paths, as
  everywhere else in ``sources``.
- The memo is a bounded FIFO shared by all sessions of the process and safe
  under concurrent callers. Nothing turns it off; ``schema_cache_stats()`` and
  ``clear_schema_cache()`` observe and reset it.
"""

from __future__ import annotations

import os
import re
import stat
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: session confs that change the schema parquet inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*:")
_GLOB_CHARS = frozenset("*?[]{}\\")

_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_CAP = 256
_SCHEMA_CACHE_LOCK = threading.Lock()
_SCHEMA_STATS = {"hits": 0, "misses": 0, "bypasses": 0}


def clear_schema_cache() -> None:
    """Empty the schema memo and zero its counters. Never needed for
    correctness (a rewritten path misses on its fingerprint); for tests and
    for measuring cold reads."""
    with _SCHEMA_CACHE_LOCK:
        _SCHEMA_CACHE.clear()
        for k in _SCHEMA_STATS:
            _SCHEMA_STATS[k] = 0


def schema_cache_stats() -> dict[str, int]:
    """Schema-memo observability: ``{"entries", "hits", "misses",
    "bypasses"}`` for the current process (bypasses are reads of paths that
    get no fingerprint; counters zero on ``clear_schema_cache()``)."""
    with _SCHEMA_CACHE_LOCK:
        return {"entries": len(_SCHEMA_CACHE), **_SCHEMA_STATS}


def _local_path(path: str) -> str | None:
    """The local file a path names, or None for a remote URI, a glob
    pattern or a relative path (the JVM resolves that against its own
    working directory, which this process may have left)."""
    if path.startswith("file:"):
        path = urlparse(path).path
    elif _SCHEME.match(path):
        return None
    if not os.path.isabs(path) or _GLOB_CHARS.intersection(path):
        return None
    return os.path.normpath(path)


def _fingerprint(path: str):
    """What the schema depends on, read from disk; None if ``path`` is gone
    or changes under the walk."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns, st.st_ino)
        files = []
        for root, _, names in os.walk(path, followlinks=True):
            for n in names:
                p = os.path.join(root, n)
                s = os.stat(p)
                files.append((os.path.relpath(p, path), s.st_size, s.st_mtime_ns, s.st_ino))
    except OSError:
        return None
    return tuple(sorted(files))


def _paths_fingerprint(paths: tuple[str, ...]):
    out = []
    for p in paths:
        local = _local_path(p)
        fp = None if local is None else _fingerprint(local)
        if fp is None:
            return None
        out.append((local, fp))
    return tuple(out)


def read_parquet(
    spark: SparkSession, *paths: str, schema: T.StructType | None = None, **options
) -> DataFrame:
    """OP-SCAN primitive: ``spark.read.options(**options).parquet(*paths)``
    with the inferred schema memoized (module docstring: key, invalidation,
    remote-path bypass). Reader options are part of the key. A given
    ``schema`` is used as is: no inference, no memo."""
    reader = spark.read.options(**options) if options else spark.read
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    fps = _paths_fingerprint(paths)
    if fps is None:
        with _SCHEMA_CACHE_LOCK:
            _SCHEMA_STATS["bypasses"] += 1
        return reader.parquet(*paths)
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    key = (fps, tuple(sorted((k, str(v)) for k, v in options.items())), confs)
    with _SCHEMA_CACHE_LOCK:
        schema = _SCHEMA_CACHE.get(key)
        _SCHEMA_STATS["hits" if schema is not None else "misses"] += 1
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    df = reader.parquet(*paths)
    schema = df.schema
    if _paths_fingerprint(paths) == fps:
        with _SCHEMA_CACHE_LOCK:
            if key not in _SCHEMA_CACHE and len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_CAP:
                _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
            _SCHEMA_CACHE[key] = schema
    return df


def read_record(path: str) -> dict | None:
    """First row of a one-row parquet directory (a store manifest) as a
    dict, read DRIVER-SIDE with pyarrow: table-format
    metadata needs no schema-inference or collect job. None when the
    directory is missing or holds no rows (a torn overwrite leaves only
    ``_temporary``/``_SUCCESS`` entries, which pyarrow skips). Local paths
    only, like every store and sink path."""
    import pyarrow.parquet as pq

    try:
        t = pq.read_table(path)
    except FileNotFoundError:
        return None
    if t.num_rows == 0:
        return None
    return {c: t.column(c)[0].as_py() for c in t.column_names}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as stored: ``ts`` is parquet TIMESTAMP(NANOS), which
    the vectorized reader rejects, so it is read as long (nanosAsLong).
    ``events_ts`` turns that into the TIMESTAMP the queries use."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, table_path(sf_dir, "events"))


def events_ts(df: DataFrame) -> DataFrame:
    """nanos-as-long (or NTZ) ``ts`` -> microsecond TIMESTAMP (lossless here —
    the data has microsecond resolution). Batch or streaming frames."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # Some Spark builds surface parquet TIMESTAMP(NANOS) as NTZ
        # directly; watermarks/windows need the LTZ TIMESTAMP type.
        # Session tz is pinned to UTC (registry.ensure_engine_confs),
        # so the cast is a no-op on the stored instant.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """OP-SCAN: one parquet table -> DataFrame (lazy; scan-level pruning)."""
    if name == "events":
        return events_ts(read_events_raw(spark, sf_dir))
    return read_parquet(spark, table_path(sf_dir, name))


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views so ``spark.sql`` queries see the same tables the
    DuckDB oracle sees (driver contract)."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-local rows as a DataFrame — the package's one literal frame
    (the reference's ``INSERT ... VALUES`` and catalog lookups, ref
    A:95-99 and A:33-36).

    ``rows`` is a sequence of tuples in ``schema`` order; ``schema`` a DDL
    string or a ``StructType`` (its nullability is kept). The rows become
    one ``pyarrow.Table`` typed by ``to_arrow_schema(schema)`` and reach the
    JVM as a ``LocalRelation``: no RDD, no Python worker. (A row list given
    to ``createDataFrame`` instead becomes a ``LogicalRDD`` whose first scan
    starts a pool of Python workers only to unpickle it.)

    Values follow Arrow's conversions: a naive ``datetime`` in a
    ``timestamp`` column is read as UTC wall-clock time. A value Arrow
    cannot carry as its column's type, a row of the wrong width, or a NULL
    in a non-nullable column raises; there is no fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    width = len(struct.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row must have {width} values ({struct.simpleString()})")
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    for i, f in enumerate(struct.fields):
        if not f.nullable and table.column(i).null_count:
            raise ValueError(f"local_frame: NULL in non-nullable column {f.name!r}")
    return spark.createDataFrame(table, struct)


def all_string_schema(columns: list[str]) -> T.StructType:
    """Schema for a staging table: every column StringType (TEXT tier)."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def load_staging_csv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """OP-CSV-LOAD: CSV -> all-text staging DataFrame, no type inference.

    Matches the reference's CSV landing zone semantics: everything arrives as
    nullable text and is validated/cast later by the cleaning pipeline
    (ref TablesCreated-Imported.sql:80-103).
    """
    return spark.read.csv(path, header=True, schema=all_string_schema(columns))


def load_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSONL (newline-delimited JSON) ingest — the interchange format of
    crawl / training-data pipelines (one document object per line).

    With ``schema`` given (ALWAYS do this in production) the reader skips
    the inference pass entirely: inference is a full extra scan of the
    data, which at 100 TB doubles ingest cost and — worse — samples types
    that can drift between files. Corrupt lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job,
    mirroring the quarantine-not-crash contract of the cleaning pipeline
    and multimodal decode. Pass a DDL string or StructType.
    """
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        # make room for quarantined lines alongside the declared fields
        if "_corrupt_record" not in [f.name for f in schema.fields]:
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField("_corrupt_record", T.StringType(), True)]
            )
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def write_jsonl(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """JSONL export (one object per line, parallel part files). At scale,
    size partitions so each part file lands in the 100 MB - 1 GB band the
    downstream consumers want; gzip via .option('compression','gzip') costs
    splittability — prefer many uncompressed parts or zstd parquet."""
    if partitions is not None:
        df = df.repartition(partitions)
    df.write.mode("overwrite").json(path)
