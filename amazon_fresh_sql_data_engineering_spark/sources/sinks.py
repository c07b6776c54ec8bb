"""Sinks: CTAS, partitioned and bucketed parquet writes (SURVEY §2.1
OP-CTAS / OP-DROP; storage layout is the engine's main 100 TB lever).

Layout guidance encoded here:
- **date-partition** fact tables on their query predicate column
  (orders by order month, events by day): partition pruning turns
  half-open date-range scans (ref A:253-254) into directory pruning.
- **bucket** the biggest join pairs on the join key (orders ⋈ lineitem on
  the order key): both sides pre-shuffled at write time means the join
  runs shuffle-free forever after.
- **publish** (the OP-TXN replacement for the reference's BEGIN/COMMIT,
  SURVEY §2.3) lives in :mod:`.versioned`: immutable snapshots behind an
  atomically flipped pointer. The one rename swap left here is
  compaction's (:func:`_swap_leaf`), because replacing a plain parquet
  directory in place has no pointer to flip.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .loaders import read_parquet


def ctas(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CREATE TABLE AS SELECT -> parquet directory (ref T:242-247 CTAS
    quarantine/mapping tables)."""
    df.write.mode(mode).parquet(path)


def ctas_partitioned(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite"
) -> None:
    """Date/key-partitioned CTAS: one directory per partition value; range
    predicates on the partition column prune at the driver."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def ctas_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Bucketed managed table (saveAsTable — bucketing needs the catalog).
    Joining two tables bucketed on the same key with the same bucket count
    is shuffle-free (checked in tests/test_sinks.py)."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")  # OP-DROP, idempotent setup
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table_name)


def ctas_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
    mode: str = "overwrite",
    file_split: str = "sampled",
) -> None:
    """Z-order (Morton-curve) clustered CTAS: multi-dimensional data
    skipping for parquet min/max pruning.

    Sorting a table by one column gives perfect file-level pruning on that
    column and none on any other; interleaving the bits of per-column
    quantile buckets gives every listed column *partial* locality, so a
    filter on ANY of them skips most files (the layout trick behind
    Delta/Iceberg OPTIMIZE ZORDER — at 100 TB, file skipping is the
    difference between scanning terabytes and gigabytes).

    Mechanics (r8 rewrite, delegating to :mod:`..sources.layout`): each
    column's quantile boundaries come from ONE driver-side
    ``approxQuantile`` pass (equi-depth, so skewed columns still spread)
    baked into a balanced literal comparison tree; the rank bits
    interleave into one z-key and the write range-partitions + sorts on
    it. The r1-r7 implementation quantile-bucketed with k chained
    two-phase ``global_ntile`` calls — k FULL-DATA SHUFFLES plus k probe
    jobs before the clustering shuffle even starts; the literal-tree form
    needs exactly ONE data shuffle (the clustering itself) regardless of
    k, with identical file-level locality (the same footer-stats and
    read-path-skipping tests pass unchanged). At 100 TB the difference is
    k extra full passes over the table per OPTIMIZE.

    ``file_split`` (r11): ``"sampled"`` (default) range-partitions on the
    z-key — robust to inter-column dependence, but ``repartitionByRange``'s
    bounds-sampling job re-executes the scan + rank trees, a full extra
    pass over the table. ``"fixed"`` splits the z-key space at fixed
    equal-width boundaries instead (``layout.zorder_write_fixed``) — one
    pass cheaper, same contiguous-range-per-file layout; choose it when
    the clustering columns are (near-)independent, where equi-depth ranks
    make fixed chunks equi-mass."""
    from .layout import zorder_frame, zorder_write_fixed

    if file_split == "fixed":
        zorder_write_fixed(df, path, cols, bits=bits, num_files=num_files, mode=mode)
        return
    if file_split != "sampled":
        raise ValueError(f"ctas_zordered: unknown file_split {file_split!r}")
    zorder_frame(df, cols, bits=bits, num_files=num_files).write.mode(mode).parquet(
        path
    )


def drop_table_path(path: str) -> None:
    """DROP TABLE IF EXISTS for path-based tables (ref T:3-15)."""
    if os.path.exists(path):
        shutil.rmtree(path)


def analyze_table(spark: SparkSession, table_name: str, columns: list[str] | None = None) -> None:
    """OP-VACUUM analog: ``VACUUM ANALYZE`` (ref T:1122) -> ``ANALYZE TABLE
    ... COMPUTE STATISTICS`` so the cost-based optimizer has row counts /
    NDVs for join reordering. Mostly subsumed by AQE's runtime stats, but
    kept for parity and for static plan quality on managed tables."""
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS")


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction (the OPTIMIZE of a path-based lakehouse).

    Streaming sinks and incremental upserts accrete many small files;
    at 100 TB that means millions of parquet footers per scan, task
    launch overhead per file, and NameNode/object-store listing pain.
    Compaction rewrites the table into files sized to ``target_file_bytes``
    (computed from the CURRENT on-disk size, so compression ratio is
    respected) and swaps it in with :func:`_swap_leaf` — readers see the
    old table or the new one, and :func:`_recover_leaf` heals a crash
    anywhere in the swap on the next call.

    ``sort_within_by`` optionally re-sorts rows within output files so
    min/max stats stay tight after compaction; ``zorder_by`` is the
    multi-column variant (OPTIMIZE ... ZORDER BY): the rewrite clusters
    on the Morton curve of the listed columns (:mod:`.layout`), so the
    compacted files bound EVERY listed column's footer stats, not just a
    leading one. Mutually exclusive with ``sort_within_by``.

    Returns ``(files_before, files_after)``.
    """
    import glob as _glob

    if sort_within_by and zorder_by:
        raise ValueError("compact_files: sort_within_by and zorder_by are exclusive")
    # a prior compaction may have crashed between its swap's two renames,
    # leaving the table only in its hidden backup — heal before reading
    _recover_leaf(path)
    parts = _glob.glob(os.path.join(path, "part-*"))
    files_before = len(parts)
    total_bytes = sum(os.path.getsize(p) for p in parts)
    n_out = max(1, (total_bytes + target_file_bytes - 1) // target_file_bytes)
    df = read_parquet(spark, path)
    if zorder_by:
        from .layout import zorder_frame

        out = zorder_frame(df, zorder_by, num_files=int(n_out))
    elif sort_within_by:
        out = df.repartitionByRange(n_out, *sort_within_by).sortWithinPartitions(
            *sort_within_by
        )
    else:
        out = df.coalesce(n_out) if n_out < files_before else df.repartition(n_out)
    _swap_leaf(out, path)
    files_after = len(_glob.glob(os.path.join(path, "part-*")))
    return files_before, files_after


def compact_partitions(
    spark: SparkSession,
    path: str,
    min_files: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Partition-subset OPTIMIZE for a hive-partitioned parquet table:
    compact ONLY the leaf partition directories whose file count exceeds
    ``min_files``, leaving every other partition's files byte-identical.

    :func:`compact_files` rewrites the WHOLE table — correct but O(table)
    per invocation, which at 100 TB means a full-table pass to fix the
    handful of partitions a streaming sink or incremental upsert has been
    peppering with small files. Real lakehouse OPTIMIZE is incremental:
    the hot (usually most-recent) partitions get compacted, cold history
    is not even read. Cost here is O(bytes in hot partitions).

    Mechanics: walk to the leaf directories (dirs that directly hold
    ``part-*`` files, any partition depth), heal each candidate's prior
    torn compaction (:func:`_recover_leaf`), and for each leaf past the
    threshold read THAT DIRECTORY alone, size output files from its
    current on-disk bytes, and republish via a per-leaf swap whose tmp and
    backup siblings are DOT-PREFIXED: a leaf dir is ``col=value``, and a
    visible ``col=value.__old__x`` sibling would be read by partition
    discovery as a bogus partition VALUE (found by the round-trip test) —
    hidden dirs are ignored. Partition column values live in the
    directory names, so a leaf-local rewrite never touches them; readers
    of the whole table see each leaf either fully old or fully new
    (per-directory swap atomicity).

    ``sort_within_by`` optionally re-sorts rows within each compacted
    leaf so footer min/max stats stay tight. Returns ``{"compacted":
    [leaf, ...], "skipped": n, "files_before": i, "files_after": j}``
    (file counts over the compacted leaves only)."""
    import glob as _glob

    # heal torn leaf swaps FIRST: a fully torn leaf is MISSING from the
    # leaf walk below — only its hidden .compact-old- backup exists
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.startswith(".compact-old-"):
                _recover_leaf(os.path.join(root, d[len(".compact-old-"):]))
            elif d.startswith(".compact-tmp-"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]

    leaves = []
    for root, dirs, files in os.walk(path):
        # hidden/backup/tmp dirs are not table data. The dot/underscore
        # prefix rule is the WHOLE filter (parquet's own convention, and
        # the swap siblings _swap_leaf creates are dot-prefixed). A
        # substring test on '__tmp__'/'__old__' would wrongly exclude a
        # legitimate partition VALUE containing those tokens, e.g.
        # col=a__old__b (ADVICE r9).
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(f.startswith("part-") for f in files):
            leaves.append(root)
    if not leaves:
        raise ValueError(
            f"compact_partitions: no parquet leaf directories under {path} "
            "(expected a hive-partitioned table; for a flat table use "
            "compact_files)"
        )
    root_leaf = [l for l in leaves if os.path.abspath(l) == os.path.abspath(path)]
    if root_leaf and len(leaves) == 1:
        raise ValueError(
            f"compact_partitions: {path} is a FLAT table (files at the "
            "root) — use compact_files; a root-level swap here would "
            "momentarily hide the whole table instead of one partition"
        )
    # a mixed layout (root files AND partition dirs) never swaps the root
    leaves = [l for l in leaves if l not in root_leaf]
    compacted, skipped, before, after = [], 0, 0, 0
    for leaf in sorted(leaves):
        _recover_leaf(leaf)
        parts = _glob.glob(os.path.join(leaf, "part-*"))
        if len(parts) <= min_files:
            skipped += 1
            continue
        before += len(parts)
        total_bytes = sum(os.path.getsize(p) for p in parts)
        n_out = max(1, (total_bytes + target_file_bytes - 1) // target_file_bytes)
        df = read_parquet(spark, leaf)
        if sort_within_by:
            out = df.repartitionByRange(int(n_out), *sort_within_by)
            out = out.sortWithinPartitions(*sort_within_by)
        else:
            out = df.coalesce(int(n_out))
        _swap_leaf(out, leaf)
        after += len(_glob.glob(os.path.join(leaf, "part-*")))
        compacted.append(os.path.relpath(leaf, path))
    return {
        "compacted": compacted,
        "skipped": skipped,
        "files_before": before,
        "files_after": after,
    }


def _swap_leaf(df: DataFrame, leaf: str) -> None:
    """Rewrite-and-swap ONE plain parquet directory (a whole flat table or
    one hive leaf) with HIDDEN siblings: ``.compact-tmp-<name>`` and
    ``.compact-old-<name>`` are dot-prefixed so partition discovery never
    reads them as partition values (a visible ``col=value.__old__x``
    sibling IS read as the bogus value ``value.__old__x``). POSIX rename
    cannot replace a non-empty directory, so this is two renames; single
    writer, and a crash anywhere is healed by :func:`_recover_leaf` on the
    next pass."""
    parent, name = os.path.split(leaf)
    tmp = os.path.join(parent, f".compact-tmp-{name}")
    old = os.path.join(parent, f".compact-old-{name}")
    df.write.mode("overwrite").parquet(tmp)
    os.rename(leaf, old)
    os.rename(tmp, leaf)
    shutil.rmtree(old)


def _recover_leaf(leaf: str) -> bool:
    """Heal :func:`_swap_leaf`'s crash windows for one leaf: drop an
    orphaned hidden tmp (never the only copy), restore the hidden backup
    iff the leaf itself is missing, drop it when the leaf is live."""
    parent, name = os.path.split(leaf)
    tmp = os.path.join(parent, f".compact-tmp-{name}")
    old = os.path.join(parent, f".compact-old-{name}")
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(leaf):
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        return False
    if os.path.exists(old):
        os.rename(old, leaf)
        return True
    return False
