"""Streaming corpus ingest: exact and near-duplicate dedup as continuous
arrival.

The batch exact-dedup (operators/dedup.exact_dedup) groups the corpus by
content fingerprint once; a training-data pipeline at 100 TB/day instead
sees documents *arrive* and must emit each distinct content exactly once.
Two forms, by where the seen-set state lives:

- :func:`corpus_dedup_stream` — engine-state ``dropDuplicates`` on the
  fingerprint. Simple, but state grows with distinct-content count for
  the stream's lifetime (documents carry no event time, so no watermark
  can bound it) — use only for bounded backfills.
- :func:`run_corpus_dedup_upsert` — state lives in the SINK: each
  micro-batch anti-joins its fingerprints against the already-published
  table (``streaming/sink.upsert_append``, first-writer-wins). Engine
  state is zero, restarts are idempotent (checkpoint + anti-join), and
  the "state" is the output table itself — the form that survives an
  unbounded corpus.

Near duplicates follow the sink-state form:
:func:`run_corpus_neardup_upsert` publishes each survivor with its MinHash
signature and shingle-hash set, and screens every later micro-batch
against those published rows through the package's one MinHash pair
engine (``operators.dedup.minhash_feature_pairs``) — within-batch pairs
first, then the batch-vs-published half, both verified by exact Jaccard.

The exact sink appends (O(|batch|) written); the near-dup sink is a
versioned table rewritten per batch (``streaming/sink.py``).

Which document of a duplicate group survives is arrival-order dependent
(same as any streaming dedup); the dedup GROUPS are deterministic, which
is what tests/test_streaming.py asserts against the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fence
from ..operators.dedup import dedup_corpus, minhash_feature_pairs, minhash_features
from ..sources.loaders import read_parquet
from .sink import run_sink, run_state_sink, upsert_append


def fingerprint(text_col: str = "text") -> "F.Column":
    """Content fingerprint matching operators/dedup.exact_dedup's encoding
    for the single-column case (md5 of the md5-per-column concat reduces
    to md5 of one hash — equality semantics identical)."""
    return F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit("\x00")))


def stream_documents_from_parquet(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over a documents parquet directory (file-source
    streaming; schema taken from a static read, never inferred)."""
    static = read_parquet(spark, docs_dir)
    return spark.readStream.schema(static.schema).parquet(docs_dir)


def corpus_dedup_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Engine-state streaming exact dedup (bounded backfills only — see
    module docstring for the state-growth caveat)."""
    return docs.withColumn("fp", fingerprint(text_col)).dropDuplicates(["fp"])


def run_corpus_dedup_upsert(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Drain an availableNow documents stream through the sink-state dedup:
    per micro-batch, fingerprints anti-join the published table so each
    distinct content is written exactly once across batches AND restarts."""
    fp = docs_stream.withColumn("fp", fingerprint(text_col))
    run_sink(fp, checkpoint_dir, lambda batch, _: upsert_append(batch, out_path, ["fp"]))


def run_corpus_neardup_upsert(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
) -> None:
    """Streaming NEAR-duplicate dedup (MinHash-LSH), sink-held state.

    Online semantics: a document is published iff its id is not yet
    published (so a replay adds nothing, short docs included) and it is
    not a near-dup of anything already *published*. Each micro-batch
    pays the shingling pass ONCE (``minhash_features``) and hands the
    features to the shared MinHash pair engine (``minhash_feature_pairs``)
    with the published rows as history. The engine's within-batch pairs
    give the full batch semantics (connected components, keep min id per
    component); its cross half — batch vs published, keyed
    ``id_new``/``id_old`` — then screens the surviving representatives: a
    survivor that verifies against a published row is dropped. Each
    published row carries its MinHash signature and shingle-hash set, so
    screening later batches never re-shingles history — the sink table IS
    the LSH index. Docs under the shingle width publish with empty
    ``__sig``/``__h`` and band to nothing, so they never pair. A batch
    with no survivors publishes nothing. Read the sink with
    ``versioned.read_snapshot`` after the drain (``streaming/sink.py``).

    Differences from the batch operator, stated honestly: transitive
    closure never spans batches (an arrival matching only never-published
    dropped docs is itself published), which is inherent to any online
    dedup — you can only compare arrivals against survivors. The
    invariant that DOES hold, and that tests assert, is that no two
    published documents verify as near-dups.

    At 100 TB the published-side band join is the cost to watch: write
    the sink bucketed/partitioned by band prefix so each batch's
    candidate probe prunes to matching buckets instead of scanning the
    full index (the same lever as every LSH family here).
    """

    def fold(batch_df: DataFrame, current: DataFrame | None, batch_id: int):
        batch = batch_df.dropDuplicates([id_col])
        published = None if current is None else current.select(
            F.col(id_col).alias("__id"), "__sig", "__h"
        )
        feats = fence.persist(
            minhash_features(batch, id_col, text_col, num_hashes, k, seed)
        )
        within, cross = minhash_feature_pairs(feats, threshold, published, num_hashes, bands)
        # components span the whole batch, so a replay rebuilds the first
        # run's; published ids leave the survivors (short docs never pair)
        out = dedup_corpus(batch, within, id_col)
        if cross is not None:
            screened = cross.select(F.col("id_new").alias(id_col))
            out = out.join(screened.unionByName(current.select(id_col)), id_col, "left_anti")
        sig_t = feats.schema["__sig"].dataType
        h_t = feats.schema["__h"].dataType
        # left join + empty-array fill: docs under the shingle width have
        # no features but are still unique content (batch semantics keeps
        # them); their empty sets never pair
        out = fence.persist(
            out.join(feats.withColumnRenamed("__id", id_col), on=id_col, how="left")
            .withColumn("__sig", F.coalesce("__sig", F.array().cast(sig_t)))
            .withColumn("__h", F.coalesce("__h", F.array().cast(h_t)))
        )
        if out.isEmpty():
            return None  # nothing survives: the sink stays as it is
        return out if current is None else current.unionByName(out)

    run_state_sink(docs_stream, out_path, checkpoint_dir, fold)
