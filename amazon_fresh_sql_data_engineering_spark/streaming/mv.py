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
so the published state carries the last folded batch's key as a stamp
column inside the SAME snapshot (stamp and data can never tear apart),
and a replayed batch is skipped. The one unstamped corner — a batch
whose fold empties the view entirely — is idempotent by algebra: an
empty post-state means every group's folded count reached <= 0, so
replaying that same delta against the empty state drops every group
again (pytest-asserted).

OWNERSHIP: the stamp is the batch KEY of streaming/sink.py, and the sink
root's owner record says which checkpoint's batch ids the stamps count
(``sink.claim`` on every fold). Seed a sink with stamp -1; re-home it
onto a new checkpoint with :func:`adopt_mv_sink`, an epoch bump that
rewrites no data.

Two layouts; ``read_mv_state`` tells them apart on disk:

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
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.mv import _CNT, mv_apply_delta, mv_build
from ..sources import versioned as V
from ..sources.loaders import local_frame, read_parquet
from .sink import KEEP_LAST, adopt, batch_key, claim, run_sink, run_state_sink

#: stamp column: key of the last folded micro-batch, inside the snapshot
_STAMP = "__mv_last_batch"
#: bucket column of the bucketed layout: stable hash-bucket of the keys
_BUCKET = "__mv_bucket"

_RESERVED = (_STAMP, _BUCKET)

#: directory-name prefix of one bucket's versioned table
_BUCKET_DIR = "bucket="
#: staging-directory prefix (dot-hidden; never the only copy of anything)
_STAGE = ".mvstage-"


def _max_stamp(published: DataFrame, out_path: str):
    """Highest stamp of published state; None when it has no rows."""
    if _STAMP not in published.columns:
        # NOT an empty state: folding would silently discard published
        # aggregates, so fail loudly instead (seeders must stamp)
        raise ValueError(
            f"mv stream: {out_path} is not stamped view state — refusing to fold"
        )
    return published.agg(F.max(_STAMP)).first()[0]


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
    view = [*keys, _CNT, *sums]

    def fold(batch_df: DataFrame, published: DataFrame | None, batch_id: int):
        last = None if published is None else _max_stamp(published, out_path)
        key = batch_key(claim(out_path, checkpoint_dir, lambda: last), batch_id)
        if last is not None and key <= last:
            return None  # replay of an already-folded batch (see module doc)
        if published is None:
            # first batch: an empty state frame with the view's dtypes
            # (mv_build on a filtered-empty delta establishes the same
            # widened aggregate types every later fold casts back to)
            cur = mv_build(batch_df.filter(F.lit(False)).drop(op_col), keys, sums)
        else:
            cur = published.select(*view)
        new = mv_apply_delta(cur, batch_df, keys, sums, op_col)
        return new.withColumn(_STAMP, F.lit(key))

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


def _read_buckets(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Bucket snapshots as one frame. Stamps are int while the key fits
    and long after, so buckets folded in different epochs can disagree;
    read every stamp as long."""
    schema = StructType([
        StructField(_STAMP, LongType()) if f.name == _STAMP else f
        for f in read_parquet(spark, *dirs).schema
    ])
    return read_parquet(spark, *dirs, schema=schema)


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
    {flipped: stamp = batch key, the replay skips it} or {not flipped: the
    OLD snapshot is still live, stamp < batch key, the replay refolds it
    from its own rows}. A fold that EMPTIES a bucket publishes a
    schema-bearing 0-ROW snapshot behind the same flip (keeping the schema
    keeps every reader's snapshot union well-typed). The owner record is
    claimed on every batch, before anything is read."""
    _check_columns(keys, sums, op_col)
    view = [*keys, _CNT, *sums]

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _heal_bucketed(out_path)
        key = batch_key(
            claim(out_path, checkpoint_dir, lambda: _max_key(spark, out_path)),
            batch_id,
        )
        bd = batch_df.withColumn(_BUCKET, _bucket_col(keys, num_buckets))
        touched = sorted(r[0] for r in bd.select(_BUCKET).distinct().collect())
        if not touched:
            return
        live = _live_dirs(out_path, touched)
        if live:
            state_t = _read_buckets(spark, live)
            stamps = {
                r[_BUCKET]: r["s"]
                for r in state_t.groupBy(_BUCKET)
                .agg(F.max(_STAMP).alias("s"))
                .collect()
            }
            fold = [b for b in touched if stamps.get(b) is None or stamps[b] < key]
            if not fold:
                return  # full replay: every touched bucket already folded
            cur = state_t.filter(F.col(_BUCKET).isin(fold)).select(*view)
        else:
            fold = touched
            cur = mv_build(batch_df.filter(F.lit(False)).drop(op_col), keys, sums)
        delta_f = bd.filter(F.col(_BUCKET).isin(fold)).drop(_BUCKET)
        new = mv_apply_delta(cur, delta_f, keys, sums, op_col)
        out = new.withColumn(_BUCKET, _bucket_col(keys, num_buckets)).withColumn(
            _STAMP, F.lit(key)
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
                V.publish_dir(f"{stage}/__mv_bpart={b}", bdir, keep_last=KEEP_LAST)
            else:
                # the fold emptied this bucket: a 0-row snapshot keeps the
                # schema and publishes behind the same atomic flip
                V.write_snapshot(
                    local_frame(spark, [], out.schema).coalesce(1),
                    bdir,
                    keep_last=KEEP_LAST,
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


def _max_key(spark: SparkSession, out_path: str):
    """Highest stamp published in either layout; None when none is."""
    if V.current_version(out_path) is not None:
        return _max_stamp(V.read_snapshot(spark, out_path), out_path)
    dirs = _live_dirs(out_path, _buckets(out_path))
    return _max_stamp(_read_buckets(spark, dirs), out_path) if dirs else None


def adopt_mv_sink(spark: SparkSession, out_path: str, checkpoint_dir: str) -> int:
    """Explicitly re-home an existing view-state sink (either layout) onto
    a NEW checkpoint (``streaming/sink.adopt``): the new stream's batch 0
    folds next. Only the owner record changes; no data is rewritten.
    Returns the new epoch."""
    _is_flat(out_path)  # raises when nothing is published
    return adopt(out_path, checkpoint_dir, lambda: _max_key(spark, out_path))


def read_mv_state(spark: SparkSession, out_path: str) -> DataFrame:
    """Current view state of either layout (stamp and bucket columns
    stripped). Pointers resolve driver-side; emptied buckets are 0-row
    schema-bearing snapshots, so an all-emptied view reads as an EMPTY
    frame, not an error. Raises on a never-written sink."""
    if _is_flat(out_path):
        df = V.read_snapshot(spark, out_path)
    else:
        dirs = _live_dirs(out_path, _buckets(out_path))
        if not dirs:
            raise FileNotFoundError(f"mv stream: no published state at {out_path}")
        df = _read_buckets(spark, dirs)
    return df.drop(*[c for c in _RESERVED if c in df.columns])
