"""Every streaming sink starts here: the package's only ``writeStream``.

:func:`run_sink` runs every foreachBatch body inside ``fence.scope()``
(the foreachBatch thread has no owner, so a batch's pins, a failed
one's included, would outlive it). Two sink shapes ride on it:

- A state sink (CDC, flat MV, corpus near-dup) is a versioned table
  (:mod:`..sources.versioned`) and a fold over :func:`run_state_sink`'s
  step: heal, ``read_or_none`` (plain parquet with no pointer raises),
  ``fold(batch, current, batch_id)`` (None skips the batch), then
  ``write_snapshot(keep_last=KEEP_LAST)``. A crash leaves the previous
  snapshot published. Each batch rewrites the sink, O(|sink|), which
  these folds already pay to read it; at scale, rewrite only the touched
  hash buckets, as the bucketed MV sink does. Read it with
  ``versioned.read_snapshot``: a frame held over it survives the next
  publish and is deleted by the one after (one batch of grace).
- A first-writer-wins sink (:func:`upsert_append`) appends plain
  parquet, O(|batch|) written, where a snapshot fold would rewrite the
  sink every batch; its anti-join makes a torn append converge.

OWNERSHIP. Micro-batch ids are checkpoint-scoped and restart at 0 under
a fresh checkpoint, so a sink whose replay guard or partition keys are
batch ids (the MV sinks, the minhash-store ingest loop) belongs to one
checkpoint. Its root holds one owner record, ``{owner, epoch}``, written
atomically (``versioned.replace_json``) and read driver-side:
:func:`claim` returns the epoch for the owning checkpoint and refuses any
other; :func:`adopt` is the explicit re-home, bumping the epoch past all
history. Such a sink keys each batch ``epoch * _EPOCH_SPAN + batch_id``
(:func:`batch_key`), so an adopted stream's keys sort after every key on
disk and no data is rewritten. The owner is a hash of the checkpoint
path as given (trailing slashes stripped): use one stable spelling.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from pyspark.sql import DataFrame

from .. import fence
from ..sources import versioned as V
from ..sources.loaders import read_parquet

#: snapshots a state sink keeps: the live one plus one batch of grace
#: for a reader still holding the previous (module doc)
KEEP_LAST = 2
#: the owner record's file name at a sink or store root
_OWNER = "_OWNER"
#: batch ids per epoch; bounds batches per epoch, not data size
_EPOCH_SPAN = 1_000_000_000


def owner_id(checkpoint_dir: str) -> str:
    """Hash of the checkpoint whose batch ids a sink belongs to."""
    return hashlib.md5(str(checkpoint_dir).rstrip("/").encode()).hexdigest()[:16]


def batch_key(epoch: int, batch_id: int) -> int:
    """The key a claimed sink stamps or partitions ``batch_id`` under."""
    return epoch * _EPOCH_SPAN + batch_id


def read_owner(root: str) -> dict | None:
    """The owner record ``{owner, epoch}`` at ``root``; None when absent."""
    try:
        with open(os.path.join(root, _OWNER)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_owner(root: str, checkpoint_dir: str, epoch: int) -> int:
    os.makedirs(root, exist_ok=True)
    record = {"owner": owner_id(checkpoint_dir), "epoch": epoch}
    V.replace_json(os.path.join(root, _OWNER), record, epoch)
    return epoch


def claim(root: str, checkpoint_dir: str, max_key) -> int:
    """Epoch under which ``checkpoint_dir``'s batches write to the sink or
    store at ``root``; raises when another checkpoint owns it. With no
    record, ``max_key()`` (the highest key on disk, None for none; called
    only then) decides: no key >= 0 (an empty sink, or seeded state
    stamped -1) claims epoch 0; keys >= 0 (a deleted record, a staged
    seed, a sink from before the record) refuse, as their batch ids are
    unknown."""
    V.drop_litter(root)
    record = read_owner(root)
    if record is None:
        top = max_key()
        if top is not None and top >= 0:
            raise ValueError(
                f"{root} holds keys up to {top} but no owner record, so the "
                "checkpoint they belong to is unknown; call adopt to "
                "re-home it past them"
            )
        return _write_owner(root, checkpoint_dir, 0)
    if record["owner"] != owner_id(checkpoint_dir):
        raise ValueError(
            f"{root} is owned by checkpoint {record['owner']!r}, not this "
            f"stream's {owner_id(checkpoint_dir)!r}: a fresh checkpoint "
            "restarts batch ids at 0, so folding would swallow or overwrite "
            "batches. If the re-home is intentional, call adopt"
        )
    return record["epoch"]


def adopt(root: str, checkpoint_dir: str, max_key) -> int:
    """Re-home the sink or store at ``root`` onto ``checkpoint_dir``: the
    new epoch is one past both the record's and the highest key's
    (``max_key()`` as in :func:`claim`), so the new stream's keys sort
    after all history. The caller asserts that the state is right as of
    the new stream's first batch. Returns the new epoch."""
    V.drop_litter(root)
    record = read_owner(root)
    top = max_key()
    epoch = max(
        record["epoch"] if record else -1,
        top // _EPOCH_SPAN if top is not None else -1,
    )
    return _write_owner(root, checkpoint_dir, epoch + 1)


def run_sink(
    stream: DataFrame,
    checkpoint_dir: str,
    write,
    trigger: dict | None = None,
    block: bool = True,
):
    """Start ``stream`` with ``write(batch_df, batch_id)`` as its
    foreachBatch body. The default trigger drains the backlog and blocks;
    e.g. ``trigger={"processingTime": "10 seconds"}, block=False`` runs a
    cadence whose returned StreamingQuery is the caller's to stop."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        with fence.scope():
            write(batch_df, batch_id)

    q = (
        stream.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    if block:
        q.awaitTermination()
    return q


def run_state_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    fold,
    trigger: dict | None = None,
    block: bool = True,
):
    """Fold ``stream`` into the versioned table at ``out_path`` (module
    doc); ``trigger``/``block`` as in :func:`run_sink`."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        V.heal(out_path)
        current = V.read_or_none(batch_df.sparkSession, out_path)
        new = fold(batch_df, current, batch_id)
        if new is not None:
            V.write_snapshot(new, out_path, keep_last=KEEP_LAST)

    return run_sink(stream, checkpoint_dir, _write, trigger, block)


def upsert_append(batch: DataFrame, out_path: str, keys: list[str]) -> None:
    """First-writer-wins sink body (``ON CONFLICT DO NOTHING``): drop the
    batch's own duplicates and every key the sink already holds (a scan
    of its key columns), then append. A replayed batch, from upstream or
    checkpoint recovery, anti-joins away; so does the landed part of a
    torn append, whose rest the replay appends. A reader mid-batch may
    see part of it."""
    fresh = batch.dropDuplicates(keys)
    if glob.glob(os.path.join(out_path, "*.parquet")):
        landed = read_parquet(batch.sparkSession, out_path).select(*keys).distinct()
        fresh = fresh.join(landed, keys, "left_anti")
    fresh.write.mode("append").parquet(out_path)
