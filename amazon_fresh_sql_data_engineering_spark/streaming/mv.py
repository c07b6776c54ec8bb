"""Streaming materialized-view maintenance: keep a SUM/COUNT partial-
aggregate view continuously folded from an arriving signed-delta
changelog — the streaming twin of ``operators/mv.mv_apply_delta`` (same
delta rule, same results, asserted in tests/test_streaming.py).

State lives in the SINK, not the engine (the streaming/cdc.py pattern):
the flat sink is a fold over streaming/sink.py's state-sink step — each
micro-batch reads the published view state, folds its signed delta in
with ``mv_apply_delta`` (one |MV|+|delta partials| shuffle, never a base
rescan), and publishes the result as a new snapshot through
:mod:`..sources.versioned` (immutable ``data/v=N`` behind an atomically
flipped pointer file). Engine state is zero and the sink is the
recoverable state. A crash anywhere leaves the previous snapshot
published; the next batch's heal prunes what never published. Read
either layout back with :func:`read_mv_state`.

Restart idempotency needs one more move than CDC: a (key, seq) merge is
naturally idempotent under micro-batch replay, but aggregate FOLDING is
not — re-applying a delta double-counts. foreachBatch is at-least-once,
so the published state carries the last folded batch id as a stamp
column inside the SAME snapshot (stamp and data can never tear apart),
and a replayed batch id is skipped. The one unstamped corner — a batch
whose fold empties the view entirely — is idempotent by algebra: an
empty post-state means every group's folded count reached <= 0, so
replaying that same delta against the empty state drops every group
again (pytest-asserted).

OWNERSHIP (ADVICE r7): micro-batch ids are CHECKPOINT-scoped and restart
at 0 under a fresh checkpoint, so pairing an existing stamped sink with
a new checkpoint would make the replay guard silently swallow the first
batches of a genuinely new delta source. The state therefore also
carries an OWNER stamp — a hash of the checkpoint location — and a fold
whose checkpoint does not match the sink's owner FAILS LOUDLY instead of
guessing. To deliberately re-home a sink onto a new checkpoint (e.g.
after losing the checkpoint directory), call ``adopt_mv_sink`` — it
re-stamps owner and batch id explicitly, making the double-count /
swallow decision the operator's, not the replay guard's. A sink that has
the batch stamp but NO owner column is treated as an operator-seeded
initial state and adopted on first fold (the documented seeding idiom);
a sink with neither raises. On the bucketed layout the adoption stamps
EVERY bucket before the first partial fold, so no bucket is left
owner-less for a foreign checkpoint to fold into. The owner hash is of
the checkpoint string as given (trailing slashes stripped): use one
stable spelling of the checkpoint path across restarts.

Two layouts; ``read_mv_state`` and ``adopt_mv_sink`` tell them apart on
disk:

- flat (``run_mv_maintain_stream``): the whole view is one versioned
  table, rewritten per micro-batch — O(|view|) per batch, fine while the
  state is GROUP-grain (|groups| rows, not base rows);
- bucketed (``run_mv_maintain_stream_partitioned``): each stable
  hash-bucket of the grain keys is its own versioned table,
  ``out_path/bucket=B``, and a fold rewrites ONLY the buckets it touches;
  untouched buckets are not read, not written, and byte-identical.

Neither layout renames live data or touches the JVM filesystem gateway:
reads resolve pointers driver-side and hand Spark explicit snapshot
paths, so both are object-store-safe and Spark-Connect-safe.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mv import mv_apply_delta, mv_build
from ..sources import versioned as V
from ..sources.loaders import read_parquet
from .sink import owner_id, run_sink, run_state_sink

#: stamp column: last folded micro-batch id, riding inside the snapshot
_STAMP = "__mv_last_batch"
#: owner column: hash of the checkpoint location whose batch-id sequence
#: the stamps belong to (stamps are meaningless under any other checkpoint)
_OWNER = "__mv_owner"
#: bucket column of the bucketed layout: stable hash-bucket of the keys
_BUCKET = "__mv_bucket"

_RESERVED = (_STAMP, _OWNER, _BUCKET)

#: directory-name prefix of one bucket's versioned table
_BUCKET_DIR = "bucket="
#: staging-directory prefix (dot-hidden; never the only copy of anything)
_STAGE = ".mvstage-"


def _check_owner(published: DataFrame, owner: str, out_path: str) -> bool:
    """Fail loudly when the sink is not stamped view state, or its stamps
    belong to a different checkpoint (see OWNERSHIP in the module doc).
    Checked via the DISTINCT owners, not an arbitrary ``first()`` row
    (ADVICE r8). Returns True when some rows carry no owner —
    operator-seeded state the caller adopts."""
    if _STAMP not in published.columns:
        # NOT an empty state: folding would silently discard published
        # aggregates, so fail loudly instead (seeders must stamp)
        raise ValueError(
            f"mv stream: {out_path} is not stamped view state — refusing to fold"
        )
    if _OWNER not in published.columns:
        return True
    owners = {r[0] for r in published.select(_OWNER).distinct().collect()}
    foreign = [o for o in owners if o is not None and o != owner]
    if foreign:
        raise ValueError(
            f"mv stream: sink {out_path} is owned by checkpoint "
            f"{foreign[0]!r}, not this stream's {owner!r} — its batch-id "
            "stamps are meaningless under this checkpoint (fresh "
            "checkpoints restart at 0, so folding would silently swallow "
            "or double-count batches). If the re-home is intentional, "
            "call adopt_mv_sink()."
        )
    return None in owners


def _check_columns(keys: list[str], sums: dict[str, str], op_col: str) -> None:
    # __mv_bpart is the bucketed sink's scratch staging-partition column
    bad = (set(_RESERVED) | {"__mv_bpart"}) & (set(keys) | set(sums) | {op_col})
    if bad:
        raise ValueError(f"mv stream: {sorted(bad)} collide with view columns")


def run_mv_maintain_stream(
    delta_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    sums: dict[str, str],
    op_col: str = "__op",
    trigger: dict | None = None,
    block: bool = True,
):
    """Fold a signed-delta stream into a flat view-state sink;
    ``trigger``/``block`` as in ``streaming/sink.run_sink``. Read the
    state back with :func:`read_mv_state`."""
    _check_columns(keys, sums, op_col)
    owner = owner_id(checkpoint_dir)

    def fold(batch_df: DataFrame, published: DataFrame | None, batch_id: int):
        if published is None:
            # first batch: an empty state frame with the view's dtypes
            # (mv_build on a filtered-empty delta establishes the same
            # widened aggregate types every later fold casts back to)
            cur = mv_build(batch_df.filter(F.lit(False)).drop(op_col), keys, sums)
        else:
            _check_owner(published, owner, out_path)
            last = published.select(F.max(_STAMP)).first()[0]
            if last is not None and batch_id <= last:
                return None  # replay of an already-folded batch (see module doc)
            cur = published.drop(_STAMP, _OWNER)
        new = mv_apply_delta(cur, batch_df, keys, sums, op_col)
        return new.withColumn(_STAMP, F.lit(batch_id)).withColumn(_OWNER, F.lit(owner))

    return run_state_sink(delta_stream, out_path, checkpoint_dir, fold, trigger, block)


def _bucket_col(keys: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast(
        "int"
    )


def _bucket_dir(out_path: str, b: int) -> str:
    return f"{out_path}/{_BUCKET_DIR}{b}"


def _buckets(out_path: str) -> list[int]:
    if not os.path.isdir(out_path):
        return []
    return sorted(
        int(d[len(_BUCKET_DIR):])
        for d in os.listdir(out_path)
        if d.startswith(_BUCKET_DIR)
    )


def _live_dirs(out_path: str, buckets: list[int]) -> list[str]:
    """Resolved snapshot directories for the given buckets (never-
    published buckets contribute nothing; an EMPTIED bucket's snapshot is
    a schema-bearing 0-row parquet, so it contributes schema, not rows)."""
    dirs = []
    for b in buckets:
        bdir = _bucket_dir(out_path, b)
        v = V.current_version(bdir)
        if v is not None:
            dirs.append(V.snapshot_path(bdir, v))
    return dirs


def _heal_bucketed(out_path: str) -> None:
    """The bucketed layout's pre-read check and heal: refuse a flat sink
    or unpointed data at the root, drop staging leftovers, and prune each
    bucket's never-published snapshots."""
    if not os.path.isdir(out_path):
        return
    if V.current_version(out_path) is not None:
        raise ValueError(
            f"mv stream: {out_path} is a FLAT view-state sink — use "
            "run_mv_maintain_stream"
        )
    V.check_unpointed(out_path, allow=(_BUCKET_DIR,))
    for d in os.listdir(out_path):
        if d.startswith(_STAGE):
            shutil.rmtree(f"{out_path}/{d}", ignore_errors=True)
    for b in _buckets(out_path):
        V.heal(_bucket_dir(out_path, b))


def _adopt_ownerless_buckets(spark: SparkSession, out_path: str, owner: str) -> None:
    """Stamp ``owner`` on every bucket whose live snapshot carries no owner
    column, per-row batch stamps PRESERVED (unlike :func:`adopt_mv_sink`,
    which resets them — mid-life buckets carry heterogeneous stamps that
    must survive). Each bucket is republished behind its own flip, so a
    crash part-way leaves the rest owner-less and the next fold adopts
    them."""
    for b in _buckets(out_path):
        bdir = _bucket_dir(out_path, b)
        if V.current_version(bdir) is None:
            continue
        df = V.read_snapshot(spark, bdir)
        if _OWNER not in df.columns:
            V.write_snapshot(df.withColumn(_OWNER, F.lit(owner)), bdir, keep_last=1)


def run_mv_maintain_stream_partitioned(
    delta_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    sums: dict[str, str],
    op_col: str = "__op",
    num_buckets: int = 64,
    trigger: dict | None = None,
    block: bool = True,
):
    """Fold a signed-delta stream into a BUCKETED view-state sink,
    rewriting only the buckets each micro-batch touches. It starts through
    ``streaming/sink.run_sink`` but keeps its own publish body (one flip
    per touched bucket); ``trigger``/``block`` as there.

    Layout: each hash-bucket of the grain keys is its OWN versioned table
    — the pointer in ``out_path/bucket=B`` names an immutable snapshot
    directory ``bucket=B/data/v=K``. A fold writes the touched buckets' NEW
    snapshots to a dot-hidden staging tree in one clustered job, moves
    each staged leaf into its bucket's next version slot (nothing
    references the slot yet, so the move need not be atomic), then flips
    each bucket's pointer and prunes the superseded snapshot. Untouched
    buckets: not read, not written, byte-identical. ``num_buckets`` is a
    layout constant of the sink: changing it re-homes groups, so pick it
    once per view (like a table's bucketing spec).

    Replay safety is PER BUCKET: old snapshots stay live until their
    replacement is pointed at, so at any crash point every bucket is
    {flipped: stamp = batch id, the replay skips it} or {not flipped: the
    OLD snapshot is still live, stamp < batch id, the replay refolds it
    from its own rows}. A fold that EMPTIES a bucket publishes a
    schema-bearing 0-ROW snapshot behind the same flip (keeping the schema
    keeps every reader's snapshot union well-typed). Ownership is checked
    sink-wide on the first fold of a run and over the touched buckets
    after."""
    _check_columns(keys, sums, op_col)
    owner = owner_id(checkpoint_dir)
    owner_checked = {"sink": False}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _heal_bucketed(out_path)
        bd = batch_df.withColumn(_BUCKET, _bucket_col(keys, num_buckets))
        touched = sorted(r[0] for r in bd.select(_BUCKET).distinct().collect())
        if not touched:
            return
        # the first fold of a run reads every bucket with merged schemas,
        # so an owner-less (seeded) bucket anywhere surfaces as NULL owners
        first = not owner_checked["sink"]
        live = _live_dirs(out_path, _buckets(out_path) if first else touched)
        published = (
            read_parquet(spark, *live, mergeSchema=str(first).lower()) if live else None
        )
        if published is not None:
            if _check_owner(published, owner, out_path):
                _adopt_ownerless_buckets(spark, out_path, owner)
                published = read_parquet(spark, *_live_dirs(out_path, _buckets(out_path)))
            owner_checked["sink"] = True
            state_t = published.filter(F.col(_BUCKET).isin(touched))
            stamps = {
                r[_BUCKET]: r["s"]
                for r in state_t.groupBy(_BUCKET)
                .agg(F.max(_STAMP).alias("s"))
                .collect()
            }
            fold = [b for b in touched if stamps.get(b) is None or stamps[b] < batch_id]
            if not fold:
                return  # full replay: every touched bucket already folded
            cur = state_t.filter(F.col(_BUCKET).isin(fold)).drop(*_RESERVED)
        else:
            fold = touched
            cur = mv_build(batch_df.filter(F.lit(False)).drop(op_col), keys, sums)
        delta_f = bd.filter(F.col(_BUCKET).isin(fold)).drop(_BUCKET)
        new = mv_apply_delta(cur, delta_f, keys, sums, op_col)
        out = (
            new.withColumn(_BUCKET, _bucket_col(keys, num_buckets))
            .withColumn(_STAMP, F.lit(batch_id))
            .withColumn(_OWNER, F.lit(owner))
        )
        # ONE clustered job stages every folded bucket's new snapshot
        # (one writer task per bucket directory). partitionBy REMOVES its
        # column from the data files, and snapshot reads have no hive
        # discovery to put it back — so the routing uses a scratch COPY
        # and _BUCKET stays a data column inside every snapshot.
        stage = f"{out_path}/{_STAGE}{batch_id}"
        (
            out.withColumn("__mv_bpart", F.col(_BUCKET))
            .repartition(F.col(_BUCKET))
            .write.mode("overwrite")
            .partitionBy("__mv_bpart")
            .parquet(stage)
        )
        staged = {
            int(d.split("=", 1)[1])
            for d in os.listdir(stage)
            if d.startswith("__mv_bpart=")
        }
        for b in fold:
            bdir = _bucket_dir(out_path, b)
            if b in staged:
                V.publish_dir(f"{stage}/__mv_bpart={b}", bdir, keep_last=1)
            else:
                # the fold emptied this bucket: a 0-row snapshot keeps the
                # schema and publishes behind the same atomic flip
                V.write_snapshot(
                    spark.createDataFrame([], out.schema).coalesce(1),
                    bdir,
                    keep_last=1,
                )
        shutil.rmtree(stage, ignore_errors=True)

    return run_sink(delta_stream, checkpoint_dir, _write, trigger, block)


def _is_flat(out_path: str) -> bool:
    """Layout of an existing sink: True for flat, False for bucketed.
    Raises when nothing is published or the path holds unpointed data."""
    if V.current_version(out_path) is not None:
        return True
    if _buckets(out_path):
        return False
    V.check_unpointed(out_path)
    raise FileNotFoundError(f"mv stream: no published state at {out_path}")


def adopt_mv_sink(
    spark: SparkSession,
    out_path: str,
    checkpoint_dir: str,
    last_batch: int = -1,
) -> None:
    """Explicitly re-home an existing view-state sink (either layout) onto
    a NEW checkpoint: re-stamps every row with the new owner and
    ``last_batch`` (default -1 = the new stream's batch 0 folds next). The
    operator is asserting that the sink state is correct AS OF before the
    new stream's first batch — the guard in ``_check_owner`` exists
    precisely so this assertion is never made implicitly.

    Every table (the flat sink, or each bucket) is republished behind its
    own flip, so a crash mid-adopt on the bucketed layout leaves a mix of
    adopted and unadopted buckets — the unadopted ones still carry the
    foreign owner and the next fold refuses loudly; re-run the adopt to
    finish."""
    owner = owner_id(checkpoint_dir)
    if _is_flat(out_path):
        V.heal(out_path)
        tables = [out_path]
    else:
        _heal_bucketed(out_path)
        tables = [_bucket_dir(out_path, b) for b in _buckets(out_path)]
    for t in tables:
        if V.current_version(t) is None:
            continue  # never-published bucket: nothing to adopt
        df = V.read_snapshot(spark, t)
        if _STAMP not in df.columns:
            raise ValueError(f"mv stream: {t} is not a stamped view state")
        restamped = (
            df.drop(_STAMP, _OWNER)
            .withColumn(_STAMP, F.lit(last_batch))
            .withColumn(_OWNER, F.lit(owner))
        )
        V.write_snapshot(restamped, t, keep_last=1)


def read_mv_state(spark: SparkSession, out_path: str) -> DataFrame:
    """Current view state of either layout (stamp/owner/bucket columns
    stripped). Pointers resolve driver-side; emptied buckets are 0-row
    schema-bearing snapshots, so an all-emptied view reads as an EMPTY
    frame, not an error. Raises on a never-written sink."""
    if _is_flat(out_path):
        df = V.read_snapshot(spark, out_path)
    else:
        dirs = _live_dirs(out_path, _buckets(out_path))
        if not dirs:
            raise FileNotFoundError(f"mv stream: no published state at {out_path}")
        df = read_parquet(spark, *dirs)
    return df.drop(*[c for c in _RESERVED if c in df.columns])
