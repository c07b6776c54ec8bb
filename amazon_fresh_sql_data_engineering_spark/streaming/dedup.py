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

OWNERSHIP: ingest keys are streaming/sink.py's batch keys, and the store
root's owner record is claimed on every batch, so a fresh checkpoint
cannot overwrite ``__ingest`` partitions of another's history.
:func:`adopt_minhash_store_stream` re-homes the store; prior epochs stay
probe-visible history.
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
from ..sources.loaders import read_parquet
from .sink import adopt, batch_key, claim, run_sink


def _max_ingest(store_path: str) -> int | None:
    ingests = store_ingests(store_path)
    return ingests[-1] if ingests else None


def adopt_minhash_store_stream(
    spark: SparkSession, store_path: str, checkpoint_dir: str
) -> int:
    """Explicitly re-home an append-layout store onto a NEW checkpoint
    (``streaming/sink.adopt``): the new stream's ingest keys sort after
    every key on disk, so nothing prior is overwritten. Also the way in
    for a store with history but no owner record (a staged seed). Returns
    the new epoch."""
    # prune a torn compaction's unpointed generation before reading
    heal_minhash_store(store_path)
    return adopt(store_path, checkpoint_dir, lambda: _max_ingest(store_path))


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

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # prune a torn compaction's unpointed generation before anything
        # reads the store
        heal_minhash_store(store_path)
        epoch = claim(store_path, checkpoint_dir, lambda: _max_ingest(store_path))
        ingest = batch_key(epoch, batch_id)
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
