"""Scalar cleaning expression kit (SURVEY.md §2.9).

Every function returns a Column expression built from native
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen eligible, zero
Python-per-row cost. This is the Spark re-expression of the reference's
validate-then-cast SQL idioms; each cites the construct it reproduces
(``T`` = TablesCreated-Imported.sql under /root/reference).

Semantic traps handled (SURVEY §4):
- PG ``to_date('MM/DD/YYYY')`` tolerates 1-2 digit fields -> Spark pattern
  must be ``M/d/yyyy`` (T:174).
- PG raises on bad casts, Spark yields NULL -> we regex-guard before every
  cast exactly like the reference does (T:245-247), making the difference
  unobservable.
- PG uuid equality is case-insensitive -> normalize to lowercase (T:245).
- PG boolean vocabulary: yes/y/true/1 -> true; no/n/false/0/'' -> false;
  else NULL (T:175, T:497-501).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shapes the reference validates with (T:245 uuid, T:174 date, T:169 int,
# T:145 numeric).
UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
# groups a hex digest (md5: exactly 32 chars) into uuid shape with ONE reference
UUID_GROUPS_RE = r"^(.{8})(.{4})(.{4})(.{4})(.{12}).*$"
DATE_MDY_RE = r"^\d{1,2}/\d{1,2}/\d{4}$"
INT_RE = r"^-?\d+$"
NUM_RE = r"^-?\d+(\.\d+)?$"

TRUE_WORDS = ["yes", "y", "true", "1"]
FALSE_WORDS = ["no", "n", "false", "0", ""]


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_text(c: Column | str) -> Column:
    """trim + blank->NULL: ``NULLIF(trim(x), '')`` (T:111, T:145-146)."""
    t = F.trim(_c(c))
    return F.when(t == "", None).otherwise(t)


def blank_to_null(c: Column | str) -> Column:
    """``NULLIF(x, '')`` without trimming (T:169)."""
    col = _c(c)
    return F.when(col == "", None).otherwise(col)


def is_valid_uuid(c: Column | str) -> Column:
    """uuid shape predicate ``x ~* '^[0-9a-f]{8}-...'`` (T:245-247)."""
    return F.trim(_c(c)).rlike(UUID_RE)


def norm_uuid(c: Column | str) -> Column:
    """Valid uuid -> lowercase canonical form, else NULL (T:245 + §1.2
    case-insensitive equality)."""
    t = F.trim(_c(c))
    return F.when(t.rlike(UUID_RE), F.lower(t)).otherwise(F.lit(None))


def norm_uuid_prevalidated(c: Column | str) -> Column:
    """``norm_uuid`` for columns a PRIOR filter already guarantees are
    blank-or-valid-uuid — i.e. FK columns downstream of ``clean_entity``'s
    quarantine step, whose predicate quarantines every row with non-blank
    non-uuid FK text (r12, guide §1.2 per-task work: the uuid regex is the
    costliest expression of the cleaning kit, and re-validating an
    already-validated column pays it a second time per row). Equivalent to
    ``norm_uuid`` exactly on rows satisfying
    ``clean_text(c) IS NULL OR is_valid_uuid(clean_text(c))`` — pinned by
    tests/test_cleaning_pipeline.py; do NOT use on unvalidated text (a non-uuid
    value would pass through lowercased instead of nulling)."""
    t = F.trim(_c(c))
    return F.when(t != "", F.lower(t))


def parse_int(c: Column | str) -> Column:
    """Guarded ``NULLIF(trim(x),'')::int`` (T:146, T:169)."""
    t = F.trim(_c(c))
    return F.when(t.rlike(INT_RE), t.cast("int")).otherwise(F.lit(None))


def parse_decimal(c: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Guarded ``NULLIF(trim(x),'')::numeric`` (T:145, T:230); HALF_UP
    rounding to scale matches PG numeric cast."""
    t = F.trim(_c(c))
    return F.when(t.rlike(NUM_RE), t.cast(f"decimal({precision},{scale})")).otherwise(
        F.lit(None)
    )


def parse_date_mdy(c: Column | str) -> Column:
    """Regex-guarded ``to_date(x, 'MM/DD/YYYY')`` (T:174, T:227-228).

    Spark pattern ``M/d/yyyy`` accepts 1-2 digit month/day like PG's
    ``MM/DD/YYYY`` does. Shape-valid but impossible dates (13/45/2024)
    yield NULL (non-ANSI cast), matching the reference's guarded CASE.
    """
    t = F.trim(_c(c))
    return F.when(t.rlike(DATE_MDY_RE), F.try_to_timestamp(t, F.lit("M/d/yyyy")).cast("date"))


def parse_bool(c: Column | str) -> Column:
    """Boolean vocabulary parse (T:175, T:497-501): yes/y/true/1 -> true,
    no/n/false/0/'' -> false, anything else -> NULL. Order matters: the
    empty string is *false*, not NULL."""
    t = F.lower(F.trim(_c(c)))
    return (
        F.when(t.isin(TRUE_WORDS), F.lit(True))
        .when(t.isin(FALSE_WORDS), F.lit(False))
        .otherwise(F.lit(None))
    )


def gen_uuid(deterministic_from: Column | None = None) -> Column:
    """``gen_random_uuid()`` (T:254, T:740).

    With ``deterministic_from`` set, derives a stable uuid-shaped id from
    the given column (md5-based; 32 hex chars = exactly one uuid, ~2x sha2 throughput, collision-irrelevant for content-addressing synthetic ids) — the injectable-id hook SURVEY §7.4
    requires for hash-matchable tests; nondeterministic ``F.uuid()``
    otherwise.
    """
    if deterministic_from is None:
        return F.uuid()
    # Single reference to the hash subtree: five .substr() calls would embed
    # the hash expression 5x, and subexpression elimination does NOT reach
    # into CASE WHEN branches (where PK-repair puts this) — measured 5x the
    # hash cost per row. One regexp_replace keeps the hash evaluated once.
    h = F.md5(deterministic_from.cast("string"))
    return F.lower(F.regexp_replace(h, UUID_GROUPS_RE, "$1-$2-$3-$4-$5"))
