"""Constraint validation library (SURVEY.md §1.3, §5 layer 2).

Spark enforces no PK/FK/CHECK constraints; the reference's own strategy —
audit queries woven through the pipeline (ref T:1130-1176) — becomes this
module: each check returns a DataFrame of violating rows (empty = constraint
holds), and ``audit_report`` assembles the reference's one-row integrity
report.

Scale notes: every check is a single aggregation or anti-join over the
checked table — one shuffle each, partial aggregation map-side, no
collect-based loops. At 100 TB these run as ordinary distributed jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.loaders import local_frame


def check_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """NOT NULL violations (ref T:1170-1176 null-PK audit, A:40-41)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | F.col(c).isNull()
    return df.filter(pred)


def check_primary_key(df: DataFrame, pk: str) -> DataFrame:
    """PK violations: NULL keys or duplicated keys, as rows (ref
    T:1139-1145 dup-PK audit). Empty result == PK holds."""
    dups = (
        df.groupBy(pk)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") > 1) | F.col(pk).isNull())
        .select(pk)
    )
    return df.join(dups, on=pk, how="left_semi").unionByName(
        df.filter(F.col(pk).isNull())
    )


def check_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """UNIQUE violations: groups with count > 1 (ref A:63-66 dup names)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def check_foreign_key(
    child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """FK orphans: child rows whose non-NULL FK has no parent (ref
    T:1148-1166 orphan audit; NULL FK is allowed — optional FK T:1075)."""
    return child.filter(F.col(fk).isNotNull()).join(
        parent.select(F.col(pk).alias(fk)).distinct(), on=fk, how="left_anti"
    )


def check_condition(df: DataFrame, condition: Column) -> DataFrame:
    """CHECK-constraint probe: rows violating ``condition`` (ref A:44-49
    ``age > 18``, A:135-139 ``rating BETWEEN 1 AND 5``). NULLs pass the
    check (SQL semantics: CHECK fails only on FALSE, not UNKNOWN)."""
    return df.filter(~F.coalesce(condition, F.lit(True)))


def audit_report(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, str],
    foreign_keys: list[tuple[str, str, str, str]],
) -> DataFrame:
    """PIPE-AUDIT (ref T:1130-1176): one-row report — per-table row counts,
    duplicate-PK counts, null-PK counts, and per-FK-edge orphan counts.

    Assembled as a crossJoin of one-row aggregates: each input is a
    distributed agg; the crossJoin is on single-row frames (no data
    movement of consequence).
    """
    spark = next(iter(tables.values())).sparkSession
    report = spark.range(1).select(F.lit("audit").alias("report"))
    for name, df in tables.items():
        pk = primary_keys[name]
        agg = df.agg(
            F.count(F.lit(1)).alias(f"{name}_rows"),
            (F.count(pk) - F.countDistinct(pk)).alias(f"{name}_dup_pks"),
            F.count(F.when(F.col(pk).isNull(), 1)).alias(f"{name}_null_pks"),
        )
        report = report.crossJoin(agg)
    for child_name, fk, parent_name, pk in foreign_keys:
        orphans = check_foreign_key(tables[child_name], fk, tables[parent_name], pk).agg(
            F.count(F.lit(1)).alias(f"{child_name}_{fk}_orphans")
        )
        report = report.crossJoin(orphans)
    return report


def constraint_catalog(
    spark,
    specs: dict,
    checks: dict | None = None,
    uniques: dict | None = None,
) -> DataFrame:
    """Constraint *metadata* as a DataFrame — the engine's answer to the
    reference's ``SELECT conname, conkey FROM pg_constraint`` introspection
    (ref A:33-36). Spark declares no constraints, so the catalog is built
    from the declared EntitySpecs (PK/FK) plus the named CHECK/UNIQUE
    registries (pipelines/entities.py DECLARED_CHECKS / DECLARED_UNIQUES).

    One row per constraint: (table_name, conname, contype, columns,
    definition), contype in p/f/c/u following pg_constraint. Metadata-sized
    — a literal local relation, no scan."""
    rows = []
    for name, spec in specs.items():
        rows.append((name, f"pk_{name}", "p", spec.pk, f"PRIMARY KEY ({spec.pk})"))
        for fk in spec.fks:
            rows.append(
                (
                    name,
                    f"fk_{name}_{fk.column}",
                    "f",
                    fk.column,
                    f"FOREIGN KEY ({fk.column}) REFERENCES {fk.parent}",
                )
            )
    for tbl, lst in (checks or {}).items():
        for cname, cols, definition in lst:
            rows.append((tbl, cname, "c", ",".join(cols), f"CHECK ({definition})"))
    for tbl, lst in (uniques or {}).items():
        for cname, cols in lst:
            rows.append((tbl, cname, "u", ",".join(cols), f"UNIQUE ({', '.join(cols)})"))
    schema = (
        "table_name string, conname string, contype string, "
        "columns string, definition string"
    )
    return local_frame(spark, rows, schema)


def assert_clean(
    tables: dict[str, DataFrame],
    primary_keys: dict[str, str],
    foreign_keys: list[tuple[str, str, str, str]],
) -> None:
    """Raise AssertionError unless all PK/FK invariants hold — the pytest
    face of the audit (SURVEY §5 layer 2)."""
    row = audit_report(tables, primary_keys, foreign_keys).collect()[0].asDict()
    bad = {
        k: v
        for k, v in row.items()
        if (k.endswith(("_dup_pks", "_null_pks", "_orphans"))) and v != 0
    }
    assert not bad, f"integrity violations: {bad}"
