"""Query-catalog registry shared by all query modules.

``CATALOG`` maps query name -> :class:`QuerySpec` (Spark fn + DuckDB oracle
SQL + doc). Modules ``queries`` (core relational), ``queries_etl``
(DML/cleaning/normalize/audit) and ``queries_ext`` (LLM-pipeline extensions)
register into it; ``catalog.py`` imports them all and is the single entry
point for __spark_entry__ / bench.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fence
from .sources.loaders import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        # every catalog entry is defined as `def <name>(spark, sf_dir)`;
        # a mismatch means the decorator landed on the wrong function
        # (e.g. a helper inserted between @register and the query during a
        # refactor — twice nearly shipped in round 7, caught by sweeps)
        if fn.__name__ != name:
            raise ValueError(
                f"register({name!r}) decorates function {fn.__name__!r} — "
                "decorator misplaced?"
            )

        @functools.wraps(fn)
        def call(*args, **kwargs):  # one fence generation per top-level call
            with fence.generation(name):
                return fn(*args, **kwargs)

        CATALOG[name] = QuerySpec(call, oracle, doc)
        return fn

    return deco


def ensure_engine_confs(spark: SparkSession) -> None:
    """Pin the semantics-critical confs on whatever session the caller
    (e.g. the external driver) hands us. The engine's contract is
    PG-compatible cast-to-NULL (ANSI off, SURVEY §4 trap 2), CORRECTED
    date parsing, and UTC timestamps for oracle determinism. The events
    table's TIMESTAMP(NANOS) needs nanosAsLong (``loaders.read_events_raw``);
    pinning it here rather than at the first events read keeps the parquet
    inference confs, part of the schema-memo key, the same for every read."""
    for k, v in [
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.timeParserPolicy", "CORRECTED"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; semantics then follow that deployment


def tables(spark: SparkSession, sf_dir: str, *names: str):
    ensure_engine_confs(spark)
    dfs = [load_table(spark, sf_dir, n) for n in names]
    return dfs[0] if len(dfs) == 1 else dfs


def dec(c, scale: str = "18,2"):
    """Exact-money cast: the engine-portable aggregation dtype (see
    queries.py module docstring for the determinism rules)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({scale})")


def fin(c, k: int = 2):
    """Final-output projection for exact-decimal columns.

    DECIMAL stays the *internal* aggregation dtype (exact, order-independent),
    but it must never appear in a query's output schema: engines canonicalize
    decimal reprs differently (trailing zeros: ``81.900`` vs ``81.9``), which
    breaks the driver's order-insensitive value hash even when values are
    identical. Every decimal column leaves the engine as
    ``round(CAST(x AS DOUBLE), k)`` — the matching oracle side writes the
    identical ``round(CAST(... AS DOUBLE), k)``.

    DRIVER-SAFE OUTPUT-TYPE RULES (the full ``fin()`` discipline — every
    rule below is backed by a measured driver divergence; scripts_
    parity_sweep.py --strict enforces them over the whole catalog):

    1. DECIMAL: never in output — this function (above).
    2. ARRAY / MAP / STRUCT: never in output — the driver's pandas
       canonicalizer sorts rows by every column and list cells raise
       ``TypeError: unhashable type`` (3 driver ``err`` rows in r3).
       Final-project arrays through ``F.array_join`` (strings), a
       ``transform`` + ``.cast("string")`` for numeric arrays (sort FIRST,
       in the element dtype — string-sorting reorders numbers), or
       ``format_string("%.6f", x)`` per element for rounded doubles; the
       oracle mirrors with ``array_to_string`` / ``printf('%.6f', x)``.
    3. DuckDB integer ``sum()`` / windowed ``sum()`` returns HUGEINT,
       which pandas converts to float64 while Spark ships int64 — the
       driver hash distinguishes ``216`` from ``216.0`` (the r3
       ``op_bool_aggs`` red; 16 more latent cases found by the strict
       sweep). Oracle-side: ``CAST(sum(...) AS BIGINT)`` on every
       integer-sum output column. ``count(*)`` is already BIGINT.
    4. Rounded float outputs that can be exactly zero: append ``+ 0.0``
       on BOTH sides — IEEE ``-0.0 + 0.0 = +0.0`` normalizes the sign
       bit (Spark round emitted ``+0.0`` where DuckDB emitted ``-0.0``
       in op_seasonal_decompose).
    Driver-BENIGN (measured green, do NOT churn): boolean columns,
    int8/int32-vs-int64 width, datetime64[ns]-vs-[us] precision,
    date-vs-datetime, None-vs-NaN — the driver's hash normalizes all of
    these (events_hourly, op_grouping_sets, sim_ann_ivf, q_clean_scalars
    all carry green rows with exactly these dtype deltas).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col.cast("double"), k)
