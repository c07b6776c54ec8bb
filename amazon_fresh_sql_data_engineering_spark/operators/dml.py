"""DML as rewrites over immutable DataFrames (SURVEY.md §2.3).

PostgreSQL mutates heap tables in place; Spark DataFrames are immutable, so
every mutation becomes a pure transformation returning the new table state.
Pipelines persist the new state as a fresh write (a CTAS, or a snapshot
published through sources/versioned.py), which also gives the idempotency
the reference gets from ``ON CONFLICT DO NOTHING`` (T:119) and
transactional brackets (OP-TXN — a documented non-goal, SURVEY §2.3).

Scale notes:
- ``update_where``/``delete_where`` are narrow (no shuffle): a full-scan
  rewrite, exactly what a 100 TB UPDATE costs anywhere.
- ``upsert`` anti-joins on the key — Catalyst/AQE broadcasts the small side;
  for repeated huge upserts, bucket both sides on the key to skip the
  shuffle entirely.
- ``dedup_keep_first`` shuffles once on the partition key (the window), the
  minimum possible for a grouped dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def update_where(df: DataFrame, predicate: Column, assignments: dict[str, Column]) -> DataFrame:
    """``UPDATE t SET col = expr, ... WHERE pred`` (ref T:470-480, A:51-53,
    A:110-112) -> conditional column rewrite, all columns preserved."""
    out = df
    for col, expr in assignments.items():
        out = out.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
    return out


def update_from_mapping(
    df: DataFrame,
    mapping: DataFrame,
    on: Column,
    assignments: dict[str, Column],
) -> DataFrame:
    """``UPDATE t SET col = m.newval FROM mapping m WHERE join`` (ref
    T:778-787, T:943-952, A:366-372).

    Left-joins the mapping (broadcast — mappings are small by construction)
    and applies ``assignments`` only where a mapping row matched; unmatched
    rows keep their original values. Mapping columns are dropped afterwards.
    """
    map_cols = set(mapping.columns)
    mapping = mapping.withColumn("__matched", F.lit(True))
    joined = df.join(F.broadcast(mapping), on, "left")
    out = joined
    for col, expr in assignments.items():
        out = out.withColumn(
            col, F.when(F.col("__matched").isNotNull(), expr).otherwise(F.col(col))
        )
    return out.drop("__matched", *[c for c in map_cols if c not in df.columns])


def delete_where(df: DataFrame, predicate: Column) -> DataFrame:
    """``DELETE FROM t WHERE pred`` (ref T:263-265, A:123-124) ->
    anti-filter."""
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def dedup_keep_first(df: DataFrame, partition_by: list[str], order_by: list[Column]) -> DataFrame:
    """``DELETE ... WHERE rn > 1`` with ``ROW_NUMBER() OVER (PARTITION BY ...
    ORDER BY ...)`` (ref A:68-77) -> keep rn == 1."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_ignore(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """``INSERT ... ON CONFLICT (pk) DO NOTHING`` (ref T:119, T:150, ...):
    first-writer-wins, idempotent.

    Within-batch duplicates collapse to one row (dropDuplicates on the key),
    then an anti-join drops rows whose key already exists. Re-running with
    the same batch is a no-op — the idempotency the reference's re-runnable
    scripts rely on (SURVEY §7.4).
    """
    fresh = incoming.dropDuplicates([key]).join(
        existing.select(key), on=key, how="left_anti"
    )
    return existing.unionByName(fresh.select(*existing.columns))


def cascade_delete(
    parent: DataFrame,
    child: DataFrame,
    parent_pred: Column,
    parent_key: str,
    child_fk: str,
) -> tuple[DataFrame, DataFrame]:
    """FK ``ON DELETE CASCADE`` (ref T:53, T:62): delete parents matching
    ``parent_pred`` and their children. Returns (new_parent, new_child)."""
    doomed = parent.filter(parent_pred).select(F.col(parent_key).alias("__k"))
    new_parent = parent.filter(~F.coalesce(parent_pred, F.lit(False)))
    new_child = child.join(
        F.broadcast(doomed), child[child_fk] == F.col("__k"), "left_anti"
    )
    return new_parent, new_child


def set_null_on_delete(
    parent: DataFrame,
    child: DataFrame,
    parent_pred: Column,
    parent_key: str,
    child_fk: str,
) -> tuple[DataFrame, DataFrame]:
    """FK ``ON DELETE SET NULL`` (ref T:36, T:63, T:72): delete parents,
    null out the children's FK."""
    doomed = parent.filter(parent_pred).select(F.col(parent_key).alias("__k"))
    new_parent = parent.filter(~F.coalesce(parent_pred, F.lit(False)))
    new_child = (
        child.join(F.broadcast(doomed), child[child_fk] == F.col("__k"), "left")
        .withColumn(
            child_fk,
            F.when(F.col("__k").isNotNull(), F.lit(None)).otherwise(F.col(child_fk)),
        )
        .drop("__k")
    )
    return new_parent, new_child


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_date,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge (beyond the reference's
    first-writer-wins upsert): apply ``updates`` to a versioned dimension.

    ``current`` carries (key, tracked..., valid_from date, valid_to date,
    is_current boolean); ``updates`` carries (key, tracked...). Per key:

    - tracked values changed -> the open row closes (valid_to =
      effective_date, is_current = false) and a new open version appends;
    - unchanged / untouched keys pass through;
    - brand-new keys insert as open rows with valid_from = effective_date;
    - already-closed history rows pass through untouched.

    Plan: one equi-join of open rows vs updates (null-safe <=> change
    detection, so NULL -> value transitions version correctly) + unions —
    no window, no per-key iteration; at 100 TB both sides shuffle once on
    the key (or the updates side broadcasts). Deterministic for a given
    ``effective_date`` (pass a literal; never now()).
    """
    eff = F.lit(effective_date).cast("date")
    open_rows = current.filter(F.col("is_current"))
    closed_rows = current.filter(~F.col("is_current"))

    upd = updates.select(key, *tracked)
    changed_pred = ~F.lit(True)
    for t in tracked:
        changed_pred = changed_pred | ~F.col(f"c.{t}").eqNullSafe(F.col(f"u.{t}"))
    # persist: three consumers below (close, new-version, unchanged anti-join)
    # would otherwise each recompute the change-detection join
    changed_keys = (
        open_rows.alias("c").join(upd.alias("u"), on=key).filter(changed_pred).persist()
    )

    closing = changed_keys.select(
        key,
        *[F.col(f"c.{t}").alias(t) for t in tracked],
        F.col("c.valid_from").alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh_versions = changed_keys.select(
        key,
        *[F.col(f"u.{t}").alias(t) for t in tracked],
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    unchanged_open = open_rows.join(
        changed_keys.select(key).distinct(), on=key, how="left_anti"
    )
    brand_new = (
        upd.join(current.select(key).distinct(), on=key, how="left_anti")
        .dropDuplicates([key])
        .select(
            key,
            *tracked,
            eff.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    cols = [key, *tracked, "valid_from", "valid_to", "is_current"]
    return (
        closed_rows.select(*cols)
        .unionByName(unchanged_open.select(*cols))
        .unionByName(closing)
        .unionByName(fresh_versions)
        .unionByName(brand_new)
    )
