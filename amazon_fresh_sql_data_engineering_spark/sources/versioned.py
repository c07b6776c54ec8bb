"""Snapshot-versioned parquet tables: the package's one publish primitive.

This replaces the reference's BEGIN/COMMIT (OP-TXN) with publish-by-
atomic-replacement, using the mechanism every table format
(Iceberg/Delta/Hudi) boils down to, minus their spec baggage:

- each write lands in an immutable ``data/v=N`` directory;
- a tiny ``_LATEST`` pointer file names the current snapshot and is
  published with ``os.replace`` (atomic on POSIX), so readers see the old
  snapshot or the new one, never a mix;
- rollback republishes the pointer (no data movement);
- ``vacuum`` deletes unpointed snapshots older than ``keep_last``;
- ``heal`` prunes never-published snapshots above the pointer.

Nothing live is ever renamed, so the crash algebra has no restore arm: a
crash before the flip leaves the previous snapshot published and an
orphan directory for ``heal``; a crash after it leaves superseded
snapshots for the next ``vacuum``. The same holds on object stores (swap
``os.replace`` for a conditional PUT) and needs no JVM filesystem gateway.

Two kinds of callers share the layout:

- time-travel tables (``write_snapshot``/``read_snapshot``/``rollback``)
  keep history until an explicit ``vacuum``;
- single-version sinks and stores (the streaming CDC and MV sinks, each
  bucket of the bucketed MV sink, the append-layout minhash store) pass
  ``keep_last`` so superseded snapshots go at the flip, and ``heal``
  before every read. ``heal`` is never run on a time-travel table: after
  a rollback the newer snapshots sit above the pointer and would be lost.

Readers that hold a DataFrame onto ``data/v=N`` are unaffected by later
publishes — immutability IS the isolation. Single writer per table is
assumed, as with any lakehouse on a filesystem without a commit service.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_LATEST"
_DATA = "data"


def snapshot_path(table_dir: str, version: int) -> str:
    """Directory of snapshot ``version`` (whether or not it exists)."""
    return os.path.join(table_dir, _DATA, f"v={version}")


def current_version(table_dir: str) -> int | None:
    """Version the pointer currently names, or None for an empty table."""
    try:
        with open(os.path.join(table_dir, _POINTER)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return None


def list_versions(table_dir: str) -> list[int]:
    """All snapshot versions present on disk (ascending)."""
    root = os.path.join(table_dir, _DATA)
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("v=")
    )


def next_version(table_dir: str) -> int:
    """One past the highest version on disk: versions are never reused."""
    versions = list_versions(table_dir)
    return (versions[-1] + 1) if versions else 1


def _flip(table_dir: str, version: int) -> None:
    tmp = os.path.join(table_dir, f"{_POINTER}.tmp.{version}")
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, os.path.join(table_dir, _POINTER))


def publish(table_dir: str, version: int, keep_last: int | None = None) -> None:
    """Flip the pointer to an already-materialized snapshot — the one
    atomic operation — then, when ``keep_last`` is given, vacuum down to
    that many snapshots."""
    _flip(table_dir, version)
    if keep_last is not None:
        vacuum(table_dir, keep_last=keep_last)


def write_snapshot(
    df: DataFrame, table_dir: str, keep_last: int | None = None
) -> int:
    """Materialize ``df`` as the next snapshot and publish it. Returns the
    new version number. The data write is the long, restartable part; the
    publish is one atomic pointer rename at the very end — a crash before
    it leaves the table on the previous snapshot with only an orphan
    ``v=N`` directory to heal or vacuum. ``keep_last`` as in
    :func:`publish`."""
    os.makedirs(os.path.join(table_dir, _DATA), exist_ok=True)
    version = next_version(table_dir)
    df.write.mode("errorifexists").parquet(snapshot_path(table_dir, version))
    publish(table_dir, version, keep_last)
    return version


def publish_dir(src_dir: str, table_dir: str, keep_last: int | None = None) -> int:
    """Move an already-materialized parquet directory in as the next
    snapshot and publish it. The move targets a slot no pointer names yet,
    so it need not be atomic (a copy on an object store is fine)."""
    os.makedirs(os.path.join(table_dir, _DATA), exist_ok=True)
    version = next_version(table_dir)
    os.rename(src_dir, snapshot_path(table_dir, version))
    publish(table_dir, version, keep_last)
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    v = version if version is not None else current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"versioned table {table_dir} has no snapshot")
    path = snapshot_path(table_dir, v)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"snapshot v={v} not on disk (vacuumed?)")
    return spark.read.parquet(path)


def check_unpointed(table_dir: str, allow: tuple[str, ...] = ()) -> None:
    """Fail loudly when a directory that no pointer names holds table data:
    root parquet files or ``name=value`` partition directories (a plain
    parquet write, or a sink from before this layout). Treating it as an
    empty table would let a stateful consumer refold from scratch and
    discard it. Underscore-prefixed partition directories count (Spark
    discovers them); dot-prefixed entries and names starting with one of
    ``allow`` do not."""
    if not os.path.isdir(table_dir):
        return
    foreign = [
        e
        for e in os.listdir(table_dir)
        if (e.startswith("part-") or ("=" in e and not e.startswith(".")))
        and not e.startswith(allow)
    ]
    if foreign:
        raise ValueError(
            f"{table_dir} holds parquet data ({sorted(foreign)[0]!r}, ...) "
            f"but no {_POINTER} pointer — it was not written through "
            "sources/versioned.py; refusing to treat it as empty"
        )


def read_or_none(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Current snapshot, or None for a table that has never published.
    Data without a pointer raises (:func:`check_unpointed`)."""
    if current_version(table_dir) is None:
        check_unpointed(table_dir)
        return None
    return read_snapshot(spark, table_dir)


def rollback(table_dir: str, version: int) -> None:
    """Point the table back at an existing snapshot — O(1), no data moves.
    The abandoned snapshot stays on disk for inspection until vacuumed."""
    if not os.path.isdir(snapshot_path(table_dir, version)):
        raise FileNotFoundError(f"cannot roll back to missing snapshot v={version}")
    _flip(table_dir, version)


def _drop_pointer_litter(table_dir: str) -> None:
    # a crash between _flip's write and its os.replace leaves a tmp file
    # that is never read; the single-writer contract makes removing it at
    # the writer's own heal/GC points race-free
    for t in glob.glob(os.path.join(table_dir, f"{_POINTER}.tmp.*")):
        try:
            os.remove(t)
        except OSError:
            pass


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Delete snapshots beyond the newest ``keep_last``, never the one the
    pointer names. Returns the versions removed. Run only when no reader
    can still hold a plan onto the doomed directories (the retention-window
    contract every lakehouse vacuum has)."""
    cur = current_version(table_dir)
    versions = list_versions(table_dir)
    keep = set(versions[-keep_last:]) | ({cur} if cur is not None else set())
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(snapshot_path(table_dir, v))
            removed.append(v)
    _drop_pointer_litter(table_dir)
    return removed


def heal(table_dir: str) -> bool:
    """Prune snapshots NEWER than the pointer — writes that never
    published — plus pointer tmp litter. Never restores anything: the
    pointed snapshot stayed live through any crash. Snapshots below the
    pointer are retention, left to :func:`vacuum`. Single-version sinks
    and stores only (module doc). Returns True when something was
    pruned."""
    cur = current_version(table_dir)
    pruned = False
    for v in list_versions(table_dir):
        if cur is None or v > cur:
            shutil.rmtree(snapshot_path(table_dir, v), ignore_errors=True)
            pruned = True
    _drop_pointer_litter(table_dir)
    return pruned
