"""Declarative data-quality expectations evaluated in one scan per table.

The reference's pipeline is *littered* with hand-written validation SQL
(`TablesCreated-Imported.sql` — per-column NULL probes, bad-value counts,
orphan lookups run one statement at a time before each import is trusted).
This module is that practice as an engine feature: declare the rules, get
ONE conditional-aggregation pass per table (every `sum(when(...))` shares
the same scan, so a 100 TB fact pays one read for any number of row-level
rules), plus dedicated shapes for the two rule families a row-local
predicate cannot express:

- ``unique``  — duplicate count via ``count(*) - count(distinct key)`` in
  the SAME single-pass aggregate (map-side partials; the distinct is the
  only rule that widens the shuffle, and it carries keys, not rows);
- ``foreign_key`` — orphan count via a LEFT ANTI join against the parent
  keys (broadcast when the parent is dim-sized, shuffle otherwise — the
  planner's choice, not ours).

Every rule lands in one result schema
``(rule, table_name, n_checked, n_violations, pass)`` so a scheduler can
gate a publish on ``bool_and(pass)`` — the CI shape of the reference's
manual checks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from . import constraints


@dataclass(frozen=True)
class RowRule:
    """Row-level expectation: ``condition`` must hold on every row.

    ``condition`` follows SQL CHECK-constraint semantics: NULL (unknown)
    does NOT count as a violation — pair with an explicit ``not_null`` rule
    when NULLs themselves are the defect, exactly as PostgreSQL CHECK
    treats NULL as passing.
    """

    name: str
    condition: Column


@dataclass(frozen=True)
class UniqueRule:
    name: str
    keys: list[str] = field(default_factory=list)


def not_null(column: str) -> RowRule:
    return RowRule(f"not_null({column})", F.col(column).isNotNull())


def in_range(column: str, lo, hi) -> RowRule:
    return RowRule(f"in_range({column})", F.col(column).between(lo, hi))


def in_set(column: str, values: list) -> RowRule:
    return RowRule(f"in_set({column})", F.col(column).isin(values))


def matches(column: str, pattern: str) -> RowRule:
    return RowRule(f"matches({column})", F.col(column).rlike(pattern))


def unique(*keys: str) -> UniqueRule:
    return UniqueRule(f"unique({','.join(keys)})", list(keys))


_SCHEMA_COLS = ["rule", "table_name", "n_checked", "n_violations"]


def run_expectations(
    df: DataFrame,
    table_name: str,
    rules: list[RowRule | UniqueRule],
) -> DataFrame:
    """Evaluate every rule against ``df`` in ONE aggregation job.

    Returns one row per rule. All row rules and all unique rules share a
    single scan: each compiles to an aggregate expression
    (``sum(when(violated, 1))`` / ``count - count_distinct``) inside the
    same global agg, so the plan is scan -> partial agg -> single-row
    exchange -> final agg, then a tiny explode to rows. The only data that
    crosses the wire is one partial-agg row per task (plus distinct keys
    for ``unique`` rules).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for r in rules:
        if isinstance(r, RowRule):
            # CHECK semantics: violation only when the condition is FALSE
            # (NULL condition = unknown = not a violation).
            aggs.append(
                F.sum(F.when(r.condition == False, 1).otherwise(0)).alias(r.name)  # noqa: E712
            )
        elif isinstance(r, UniqueRule):
            aggs.append(
                (
                    F.count(F.lit(1))
                    - F.count_distinct(*[F.col(k) for k in r.keys])
                ).alias(r.name)
            )
        else:  # pragma: no cover - guarded by type hints
            raise TypeError(f"unsupported rule type: {type(r)!r}")
    one = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(r.name).cast("bigint").alias("n_violations"),
            )
            for r in rules
        ]
    )
    return (
        one.select(F.col("__n").alias("n_checked"), F.explode(pairs).alias("p"))
        .select(
            F.col("p.rule").alias("rule"),
            F.lit(table_name).alias("table_name"),
            F.col("n_checked").cast("bigint").alias("n_checked"),
            F.col("p.n_violations").alias("n_violations"),
        )
    )


def check_foreign_key(
    child: DataFrame,
    child_name: str,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
) -> DataFrame:
    """Referential expectation: count child rows whose non-NULL key has no
    parent (NULL FKs are not orphans — SQL FK semantics). The orphans are
    ``constraints.check_foreign_key``'s one anti-join; Spark broadcasts the
    parent side when it is small enough, which is the dim-vs-fact case
    this exists for."""
    orphans = constraints.check_foreign_key(child, child_key, parent, parent_key).agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    total = child.agg(F.count(F.lit(1)).alias("n_checked"))
    return total.crossJoin(orphans).select(
        F.lit(f"foreign_key({child_name}.{child_key})").alias("rule"),
        F.lit(child_name).alias("table_name"),
        F.col("n_checked").cast("bigint"),
        F.col("n_violations").cast("bigint"),
    )


def finalize(report: DataFrame) -> DataFrame:
    """Attach the gate column. Kept separate so callers can union reports
    from several tables first."""
    return report.select(
        *_SCHEMA_COLS, (F.col("n_violations") == 0).alias("pass")
    )
