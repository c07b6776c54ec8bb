"""Streaming CDC apply: keep a queryable table continuously materialized
from an arriving I/U/D changelog — the streaming twin of
``operators/cdc.changelog_apply`` (same merge logic, same results,
asserted in tests/test_streaming.py).

State lives in the SINK, not the engine (the streaming/corpus.py
pattern): each micro-batch merges into the published compacted log
(tombstones retained — see ``operators/cdc.compact_log``) and publishes it
as the sink's next snapshot (:mod:`..sources.versioned`: immutable
``data/v=N`` behind an atomically flipped pointer). Engine state is zero,
restarts are idempotent (checkpoint tracks consumed files; a replayed
batch re-merges rows whose (key, seq) already won or lost — content is
unchanged either way), and a crash anywhere leaves the previous snapshot
published.

Scale notes: per micro-batch this is one key-partitioned window over
(published ∪ batch). For a 100 TB table that full rewrite is the naive
tier — partition the sink by a stable key hash and rewrite ONLY the
partitions a batch touches, exactly how Hudi copy-on-write tables apply
upserts (streaming/mv.py's bucketed sink does this for view state); the
merge logic is unchanged, so this module keeps the simple form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import compact_log
from ..sources import versioned as V


def run_cdc_apply_stream(
    log_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_col: str,
) -> None:
    """Drain an availableNow changelog stream into a compacted sink."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # prune a never-published snapshot left by a crashed batch
        V.heal(out_path)
        cur = V.read_or_none(spark, out_path)
        merged = cur.unionByName(batch_df) if cur is not None else batch_df
        V.write_snapshot(compact_log(merged, keys, seq_col), out_path, keep_last=1)

    q = (
        log_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_current_state(
    spark: SparkSession,
    out_path: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Reader view of the compacted sink: tombstones filtered out."""
    cur = V.read_or_none(spark, out_path)
    if cur is None:
        raise FileNotFoundError(f"cdc stream: no published state at {out_path}")
    return cur.filter(F.col(op_col) != F.lit(delete_op)).drop(op_col)
