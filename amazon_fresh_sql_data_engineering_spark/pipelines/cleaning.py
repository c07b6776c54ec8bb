"""PIPE-CLEAN-*: staging -> validate -> quarantine -> repair -> cast ->
conform FKs -> idempotent load, per entity (SURVEY.md §2.12).

Re-expresses the reference's per-entity cleaning programs (suppliers
T:378-408, products T:413-455, customers T:459-511, orders T:516-693,
order_details T:698-995, reviews T:1001-1122) as one declarative engine:
an :class:`EntitySpec` describes each entity (cleaned-column expressions,
PK, FK edges with placeholder templates) and :func:`clean_entity` runs the
shared program:

1. **drop** rows with NULL/blank PK (ref ``WHERE trim(pk) <> ''`` T:118).
2. **repair PK**: garbage uuid -> fresh uuid, keep the row (ref T:253-255);
   valid uuid -> lowercase-normalized (ref T:245, §1.2).
3. **quarantine** rows whose FK text is non-blank but not uuid-shaped
   (ref ``*_problem_rows`` CTAS T:242-247, T:518-528). These are NOT
   loaded; :func:`remap_quarantined` (PIPE-IDREMAP, ref T:737-787,
   T:911-963) can repair + load them afterwards.
4. **cast/clean** every column with the §2.9 expression kit.
5. **conform FKs**: valid FK uuids with no parent row -> synthesize
   placeholder parents (PIPE-PLACEHOLDER: 'UNKNOWN SUPPLIER' T:131-135,
   'UNKNOWN CUSTOMER' T:215-219, 'UNKNOWN PRODUCT' T:862-869, shipmode
   'PLACEHOLDER' orders T:758-762).
6. **upsert** into the existing final table, first-writer-wins
   (``ON CONFLICT DO NOTHING`` T:119).

Conservation invariant (FIXTURES.md §2, ref T:405-408):
``staging = final_new + quarantined + dropped_blank_pk`` before remap, and
``staging = final_new + dropped_blank_pk`` after remapping every
quarantined row.

Scale: each step is a narrow transformation or one join. Placeholder
discovery is an anti-join against the parent's key projection (broadcast
when small, shuffled otherwise — Catalyst/AQE decides). Everything is
deterministic when ``deterministic_ids=True`` (sha2-derived uuids), the
injectable-id hook SURVEY §7.4 requires.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import UUID_RE, clean_text, gen_uuid, is_valid_uuid
from ..operators.dml import upsert_ignore
from ..sources.loaders import read_parquet


@dataclass(frozen=True)
class FkSpec:
    """One FK edge: ``column`` references ``parent`` table's PK; missing
    parents are synthesized from ``placeholder`` literals (PK filled in)."""

    column: str
    parent: str
    placeholder: dict[str, str] = field(default_factory=dict)
    optional: bool = True  # blank -> NULL allowed (ref T:1075 reviews.customerid)


@dataclass(frozen=True)
class EntitySpec:
    name: str
    pk: str
    # cleaned-column expressions over the staging columns (applied after PK
    # repair / FK quarantine, which operate on raw staging text)
    clean_exprs: dict[str, Column]
    fks: list[FkSpec] = field(default_factory=list)


@dataclass
class CleanResult:
    final: DataFrame  # upserted final table state
    quarantined: DataFrame  # raw staging rows with malformed FK text
    dropped: DataFrame  # raw staging rows with blank/NULL PK
    placeholders: dict[str, DataFrame]  # parent table -> synthesized rows


def _row_fingerprint(columns: list[str], salt: str) -> Column:
    """Deterministic per-row seed for repaired ids: content-addressed, so
    re-runs regenerate identical uuids (idempotent repair)."""
    return F.concat_ws("\x1f", F.lit(salt), *[F.coalesce(F.col(c), F.lit("\x00")) for c in columns])


def clean_entity(
    staging: DataFrame,
    spec: EntitySpec,
    parents: dict[str, DataFrame] | None = None,
    existing: DataFrame | None = None,
    deterministic_ids: bool = True,
) -> CleanResult:
    parents = parents or {}
    raw_cols = staging.columns

    # 1. blank-PK drop (ref T:118 ``WHERE trim(pk) <> ''``)
    pk_text = clean_text(spec.pk)
    dropped = staging.filter(pk_text.isNull())
    kept = staging.filter(pk_text.isNotNull())

    # 3. FK-shape quarantine (before casting, on raw text — ref T:242-247)
    bad_fk = F.lit(False)
    for fk in spec.fks:
        t = clean_text(fk.column)
        bad_fk = bad_fk | (t.isNotNull() & ~is_valid_uuid(t))
    quarantined = kept.filter(bad_fk)
    ok = kept.filter(~bad_fk)

    # 2. PK repair: garbage uuid -> fresh (content-addressed) uuid, row kept
    #    (ref T:253-255); valid -> lowercase canonical. One trim+rlike per
    #    row (r12): the old `when(is_valid_uuid(clean_text(pk)),
    #    norm_uuid(pk))` evaluated the uuid regex twice and trim three
    #    times per valid row — CASE branches are outside codegen's
    #    common-subexpression elimination. Equivalent on `kept` rows
    #    (blank PKs were already dropped, and trim is idempotent), and it
    #    is literally the oracle's own CASE shape.
    fresh = (
        gen_uuid(_row_fingerprint(raw_cols, f"{spec.name}.pk"))
        if deterministic_ids
        else gen_uuid()
    )
    pk_trimmed = F.trim(F.col(spec.pk))
    repaired_pk = F.when(pk_trimmed.rlike(UUID_RE), F.lower(pk_trimmed)).otherwise(fresh)

    # 4. cast/clean all columns (§2.9 kit)
    cleaned = ok.select(
        repaired_pk.alias(spec.pk),
        *[expr.alias(c) for c, expr in spec.clean_exprs.items() if c != spec.pk],
    )

    # 5. placeholder parents for valid-but-missing FKs (PIPE-PLACEHOLDER)
    placeholders: dict[str, DataFrame] = {}
    for fk in spec.fks:
        parent_df = parents.get(fk.parent)
        if parent_df is None:
            continue
        parent_pk = parent_df.columns[0]  # convention: PK first (schemas.py)
        missing = (
            cleaned.filter(F.col(fk.column).isNotNull())
            .select(F.col(fk.column).alias(parent_pk))
            .distinct()
            .join(parent_df.select(parent_pk), on=parent_pk, how="left_anti")
        )
        ph = missing.select(
            parent_pk,
            *[
                F.lit(fk.placeholder.get(c)).cast(dict(parent_df.dtypes)[c]).alias(c)
                for c in parent_df.columns
                if c != parent_pk
            ],
        )
        placeholders[fk.parent] = ph

    # 6. idempotent load (OP-UPSERT, ref T:119)
    final = cleaned if existing is None else upsert_ignore(existing, cleaned, spec.pk)
    final = final.dropDuplicates([spec.pk])

    return CleanResult(final=final, quarantined=quarantined, dropped=dropped, placeholders=placeholders)


def build_id_mapping(
    quarantined: DataFrame, fk_columns: list[str], salt: str
) -> DataFrame:
    """PIPE-IDREMAP step 1 (ref ``mapping_orderids`` T:737-750,
    ``mapping_productids`` T:912-924): distinct malformed FK texts ->
    deterministic fresh uuids. Returns (old_text, new_uuid)."""
    texts = None
    for c in fk_columns:
        t = quarantined.select(clean_text(c).alias("old_text")).filter(
            F.col("old_text").isNotNull() & ~is_valid_uuid(F.col("old_text"))
        )
        texts = t if texts is None else texts.unionByName(t)
    return (
        texts.distinct()
        .select(
            "old_text",
            gen_uuid(_row_fingerprint(["old_text"], salt)).alias("new_uuid"),
        )
    )


def remap_quarantined(
    quarantined: DataFrame,
    spec: EntitySpec,
    mapping: DataFrame,
    parents: dict[str, DataFrame] | None = None,
    existing: DataFrame | None = None,
    deterministic_ids: bool = True,
) -> CleanResult:
    """PIPE-IDREMAP step 2 (ref T:778-787, T:943-952): rewrite malformed FK
    text to mapped fresh uuids, then run the standard cleaning program on
    the repaired rows (placeholder parents get synthesized for the new ids
    by the FK-conform step)."""
    repaired = quarantined
    for fk in spec.fks:
        m = mapping.select(
            F.col("old_text").alias(f"__old_{fk.column}"),
            F.col("new_uuid").alias(f"__new_{fk.column}"),
        )
        repaired = (
            repaired.join(
                F.broadcast(m),
                clean_text(fk.column) == F.col(f"__old_{fk.column}"),
                "left",
            )
            .withColumn(
                fk.column,
                F.coalesce(F.col(f"__new_{fk.column}"), F.col(fk.column)),
            )
            .drop(f"__old_{fk.column}", f"__new_{fk.column}")
        )
    return clean_entity(
        repaired,
        spec,
        parents=parents,
        existing=existing,
        deterministic_ids=deterministic_ids,
    )


def publish_cleaned(
    final: DataFrame, path: str, date_col: str, grain: str = "month"
) -> None:
    """PIPE-CLEAN step 7: persist the cleaned table DATE-PARTITIONED on its
    dominant query-predicate column (reference habit A:253-254 — every
    reporting query carries a half-open date range). One directory per
    month (or day), so range scans prune at the driver before any task
    launches — at 100 TB this layout IS the difference between scanning a
    month and scanning the corpus. NULL dates (unparseable staging text)
    land in the default partition and are still readable.
    """
    from ..sources.sinks import ctas_partitioned

    fmt = "yyyy-MM" if grain == "month" else "yyyy-MM-dd"
    part_col = f"{date_col}_{grain}"
    ctas_partitioned(
        final.withColumn(part_col, F.date_format(F.col(date_col), fmt)),
        path,
        [part_col],
    )


def read_cleaned_range(
    spark, path: str, date_col: str, start: str, end: str, grain: str = "month"
) -> DataFrame:
    """Half-open [start, end) date-range read over a :func:`publish_cleaned`
    layout. The range predicate is applied TWICE on purpose: once on the
    derived partition column (string compare on the 'yyyy-MM' directory
    value — this is what prunes directories at the driver) and once on the
    row-level date (exact bounds within the edge partitions). The plan
    shows the first as PartitionFilters, the second as PushedFilters —
    asserted in tests/test_sinks.py.
    """
    n = 7 if grain == "month" else 10
    part_col = f"{date_col}_{grain}"
    df = read_parquet(spark, path)
    return df.filter(
        (F.col(part_col) >= start[:n])
        & (F.col(part_col) <= end[:n])
        & (F.col(date_col) >= F.lit(start).cast("date"))
        & (F.col(date_col) < F.lit(end).cast("date"))
    )


def run_incremental_clean(
    staging_stream,
    spec: EntitySpec,
    out_path: str,
    checkpoint: str,
    deterministic_ids: bool = True,
) -> None:
    """PIPE-CLEAN as an INCREMENTAL streaming pipeline: each arriving
    micro-batch of dirty staging runs the full cleaning program
    (:func:`clean_entity`) inside ``foreachBatch``, then upserts into the
    final table with first-writer-wins semantics (the reference's
    ``ON CONFLICT DO NOTHING``, T:119, in streaming form, through
    ``streaming/sink.upsert_append``).

    Idempotence is layered: content-addressed PK repair makes re-delivered
    dirty rows clean to IDENTICAL rows, and the upsert anti-join drops
    rows whose PK already landed — so at-least-once upstream delivery,
    checkpoint-recovery replays, and cross-batch duplicates all converge
    to the same final table a single batch run would produce. At 100 TB
    this is the continuous-ingest shape: the per-batch work is the same
    narrow validate/repair/cast program, and the only sink-side cost is
    one anti-join against the final table's key projection plus the
    append of the new rows. Read the table as plain parquet.
    """
    from ..streaming.sink import run_sink, upsert_append

    def _clean_and_upsert(batch_df, batch_id: int) -> None:
        cleaned = clean_entity(batch_df, spec, deterministic_ids=deterministic_ids).final
        upsert_append(cleaned, out_path, [spec.pk])

    run_sink(staging_stream, checkpoint, _clean_and_upsert)
