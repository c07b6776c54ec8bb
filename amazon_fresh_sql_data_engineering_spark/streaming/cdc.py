"""Streaming CDC apply: keep a queryable table continuously materialized
from an arriving I/U/D changelog — the streaming twin of
``operators/cdc.changelog_apply`` (same merge logic, same results,
asserted in tests/test_streaming.py).

State lives in the SINK, not the engine: a fold over
``streaming/sink.run_state_sink`` merges each micro-batch into the
published compacted log (tombstones retained — see
``operators/cdc.compact_log``) and publishes it as the next snapshot.
Restarts are idempotent (a replayed batch re-merges rows whose (key,
seq) already won or lost), and a crash leaves the previous snapshot
published. Read live rows with :func:`read_current_state`, the log
with tombstones with ``versioned.read_snapshot``.

Scale notes: each micro-batch is one key-partitioned window over
(published ∪ batch) and rewrites the whole log, O(|sink|) — the naive
tier. For a 100 TB table, partition the sink by a stable key hash and
rewrite ONLY the partitions a batch touches, as Hudi copy-on-write
tables do (streaming/mv.py's bucketed sink does this for view state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import compact_log
from ..sources import versioned as V
from .sink import run_state_sink


def run_cdc_apply_stream(
    log_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_col: str,
) -> None:
    """Drain an availableNow changelog stream into a compacted sink."""

    def fold(batch: DataFrame, current: DataFrame | None, batch_id: int) -> DataFrame:
        merged = batch if current is None else current.unionByName(batch)
        return compact_log(merged, keys, seq_col)

    run_state_sink(log_stream, out_path, checkpoint_dir, fold)


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
