"""Every streaming sink starts here: the package's only ``writeStream``.

:func:`run_sink` runs every foreachBatch body inside ``fence.scope()``
(the foreachBatch thread has no owner, so a batch's pins, a failed
one's included, would outlive it). Two sink shapes ride on it:

- A state sink (CDC, flat MV, corpus near-dup) is a versioned table
  (:mod:`..sources.versioned`) and a fold over :func:`run_state_sink`'s
  step: heal, ``read_or_none`` (plain parquet with no pointer raises),
  ``fold(batch, current, batch_id)`` (None skips the batch), then
  ``write_snapshot(keep_last=1)``. A crash leaves the previous snapshot
  published. Each batch rewrites the sink, O(|sink|), which these folds
  already pay to read it; at scale, rewrite only the touched hash
  buckets, as the bucketed MV sink does. Read it with
  ``versioned.read_snapshot`` after the drain: the next publish deletes
  the snapshot a held DataFrame points at.
- A first-writer-wins sink (:func:`upsert_append`) appends plain
  parquet, O(|batch|) written, where a snapshot fold would rewrite the
  sink every batch; its anti-join makes a torn append converge.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame

from .. import fence
from ..sources import versioned as V
from ..sources.loaders import read_parquet


def owner_id(checkpoint_dir: str) -> str:
    """Stamp of the checkpoint whose batch ids a sink's state belongs to."""
    return hashlib.md5(str(checkpoint_dir).rstrip("/").encode()).hexdigest()[:16]


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
            V.write_snapshot(new, out_path, keep_last=1)

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
