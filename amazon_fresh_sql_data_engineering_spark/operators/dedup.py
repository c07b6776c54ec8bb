"""Deduplication operators for training-data pipelines (BASELINE.json
scope): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design — the non-negotiable at 100 TB is **never materialize the
O(n²) pair space**:
- exact dedup: one hash-groupBy (single shuffle, map-side partial agg).
- MinHash LSH: shingle -> 64 minhashes -> 16 bands; candidate pairs come
  from a *bucket self-join* (equi-join on band hash — shuffled hash join on
  a high-cardinality key), then exact Jaccard verifies only candidates.
  One engine (``_minhash_pairs``: a batch against optional history) makes
  every MinHash pair — batch, incremental, on-disk store probe and the
  streaming corpus screen.
- SimHash: 64-bit signature via an Arrow-batched pandas UDF (bit-vote is a
  numpy one-liner; per-row Python would be 100x slower), banded into 4x16-bit
  chunks for candidates, verified by ``bit_count(xor)`` hamming distance.
- n-gram Jaccard: blocked pairwise compare — the block key caps pair count.
- embedding near-dup: sign-LSH buckets (deterministic hyperplanes) ->
  exact-cosine verify within buckets.

All randomness is seeded/deterministic so results are stable across runs
and cluster layouts.
"""

from __future__ import annotations

import random
from zlib import crc32

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .. import fence
from ..functions.arrow import arrow_udf
from ..functions.text import tokens
from ..functions.vectors import cosine_pairs, matrix_dots_udf
from ..sources.loaders import local_frame, read_parquet, read_record

# Mersenne-31: keeps (a*h + b) < 2^62, so permutation arithmetic never
# overflows a long even under ANSI mode (a vanilla Spark 4 session has
# spark.sql.ansi.enabled=true, where long overflow THROWS).
MERSENNE_P = (1 << 31) - 1

# iteration count of the last connected_components distributed run (0 when
# the driver union-find path handled it); tests assert the log-diameter bound
LAST_CC_ITERS = 0


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup on ``cols``: keep the row with the smallest ``id_col``
    per duplicate group (deterministic winner). One shuffle.

    Groups on md5 of the dedup columns, not the columns themselves: the
    group/semi-join shuffle then carries a 32-char fingerprint per row
    instead of full document text — at 100 TB that is the difference
    between shuffling fingerprints and shuffling the corpus. md5 is
    128-bit, so a false merge needs ~2^64 documents (the standard
    content-addressed dedup contract; the SQL oracles group on raw text
    and agree, which also evidences collision-freeness on the corpus).

    The multi-column encoding is INJECTIVE: each column is hashed
    separately (md5 hex, or the single token ``N`` for NULL — ``N`` is
    outside the hex alphabet, so token boundaries parse unambiguously)
    and the outer md5 covers the fixed-shape concatenation. A separator-
    join of raw values would let values containing the separator (or a
    literal equal to the NULL sentinel) collide across columns.
    """
    per_col = [F.coalesce(F.md5(F.col(c).cast("string")), F.lit("N")) for c in cols]
    fp = F.md5(F.concat(*per_col)) if len(per_col) > 1 else per_col[0]
    fp_name = "__fp"
    while fp_name in df.columns:
        fp_name += "_"
    with_fp = df.withColumn(fp_name, fp)
    keep = with_fp.groupBy(fp_name).agg(F.min(id_col).alias(id_col))
    return with_fp.join(keep, on=[fp_name, id_col], how="left_semi").drop(fp_name)


def shingles(c: Column | str, k: int = 3) -> Column:
    """k-word shingles as strings (distinct), the MinHash/Jaccard unit."""
    toks = tokens(c)
    n = F.size(toks)
    # guard: F.sequence(1, 0) would DESCEND ([1, 0]); short docs get an
    # empty shingle set instead
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))),
    ).otherwise(F.array().cast("array<string>"))


def _minhash_perms(num: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num)]


def _shingle_hashes_np(
    text: str,
    k: int,
    mod: int | None = MERSENNE_P,
    word_cache: dict | None = None,
) -> np.ndarray:
    """Distinct k-word shingle hashes of ``text``, vectorized.

    Tokenization matches ``functions.text.tokens`` (whitespace split of
    trimmed text). Word hash = crc32; shingle hash = odd-constant linear
    combine of the k word hashes. With ``mod=MERSENNE_P`` (default) hashes
    are 31-bit — same hash space (and within-doc collision profile) as the
    previous pmod(xxhash64) form, required by the minhash permutation
    arithmetic. With ``mod=None`` the combine keeps full int64 width
    (two's-complement wrap — deterministic) for ~2^63 collision odds where
    exact-Jaccard parity with a string-shingle oracle matters.

    ``word_cache`` (pass a per-batch dict from the calling UDF) memoizes
    word→crc32 across documents: real corpora are Zipf-distributed, so the
    per-word encode+crc dominates the pass and most lookups hit.
    """
    ws = text.split() if text else []
    if len(ws) < k:
        return _EMPTY_I64
    if word_cache is None:
        wh = np.array([crc32(w.encode("utf-8")) for w in ws], dtype=np.int64)
    else:
        get = word_cache.get
        hs = []
        for w in ws:
            h = get(w)
            if h is None:
                h = word_cache[w] = crc32(w.encode("utf-8"))
            hs.append(h)
        wh = np.array(hs, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(wh, k)
    # crc32 < 2^32, coeffs < 2^29 -> each product < 2^61; the k<=8 sum may
    # wrap int64, which numpy defines as two's complement — fine for mod=None
    sh = (win * _SHINGLE_COEF[:k]).sum(axis=1)
    if mod is not None:
        sh = sh % mod
    return np.unique(sh)


_EMPTY_I64 = np.empty(0, dtype=np.int64)
# fixed odd coefficients (< 2^29) for the word-hash combine; position-
# dependent so "a b c" and "c b a" shingle differently. First three are
# frozen (the minhash oracle inlines them); the tail extends the combine
# to k<=8 (decontamination 8-grams).
_SHINGLE_COEF = np.array(
    [
        0x1000_0001,
        0x0A5F_3C47,
        0x1234_5671,
        0x0B77_8D13,
        0x1F0E_2A99,
        0x05C6_71EF,
        0x1899_B3A5,
        0x0E34_97C1,
    ],
    dtype=np.int64,
)


# process-level word->hash memo: Python workers are reused across Arrow
# batches and queries, and corpus vocabulary is Zipf-distributed, so hits
# dominate; bounded so adversarial vocab can't grow it unboundedly
_MD5_WORD_CACHE: dict = {}
_MD5_WORD_CACHE_MAX = 1 << 20


def _shingle_hashes_md5_np(text: str, k: int, word_cache: dict) -> np.ndarray:
    """Distinct k-word shingle hashes, ENGINE-PORTABLE variant for the
    minhash family: word hash = low 8 bytes of md5 (little-endian, same
    portable token hash SimHash uses) reduced mod M31, shingle hash =
    coefficient combine of the k word hashes mod M31. Every intermediate
    stays below 2^62, so the arithmetic is identical in int64 numpy and in
    an engine whose BIGINT traps on overflow — which is what lets a SQL
    oracle replay minhash signatures exactly (crc32, the fast variant's
    word hash, has no SQL equivalent)."""
    import hashlib

    ws = text.split() if text else []
    if len(ws) < k:
        return _EMPTY_I64
    get = word_cache.get
    hs = []
    for w in ws:
        h = get(w)
        if h is None:
            h = (
                int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "little")
                % MERSENNE_P
            )
            if len(word_cache) < _MD5_WORD_CACHE_MAX:
                word_cache[w] = h
        hs.append(h)
    wh = np.array(hs, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(wh, k)
    # w < 2^31, coef < 2^29 -> products < 2^60, k<=3 sum < 2^62: exact
    sh = (win * _SHINGLE_COEF[:k]).sum(axis=1) % MERSENNE_P
    return np.unique(sh)


def minhash_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(__id, __sig, __h): MinHash signature AND distinct shingle hashes,
    one Arrow-batched UDF pass per doc.

    The whole text->features path runs in ONE pandas UDF (tokenize,
    portable md5 word hashes — see ``_shingle_hashes_md5_np`` — numpy
    rolling shingle combine, numpy broadcast ``(A*h + B) % M31`` + min):
    Spark evaluates higher-order-function lambdas interpreted (per-element
    closure calls), which made the JVM-side ``transform(slice+concat_ws)``
    shingling ~1 ms/doc — the hottest CPU path in the catalog (4.6 s of
    the 7.5 s query at sf0.1).
    Emitting the shingle-hash set alongside the signature means the
    downstream Jaccard verify re-uses this pass instead of re-shingling
    the corpus (a second full-corpus UDF pass at 100 TB) or semi-join
    pruning it (2 extra shuffle stages). All arithmetic is int64-exact
    (operands < 2^63) and seeded, so features are deterministic across
    runs and cluster layouts. Docs with no shingles (< k words) are
    dropped (nothing to near-dup against).
    """
    if k > len(_SHINGLE_COEF):
        raise ValueError(f"k={k} exceeds supported shingle width {len(_SHINGLE_COEF)}")
    perms = np.array(_minhash_perms(num_hashes, seed), dtype=np.int64)
    a_col = perms[:, 0][:, None]
    b_col = perms[:, 1][:, None]

    @arrow_udf("sig array<long>, h array<long>")
    def _feat(texts: pd.Series) -> pd.DataFrame:
        sigs, hs = [], []
        wcache = _MD5_WORD_CACHE
        for t in texts:
            # md5-based portable shingle hashes (mod M31): both the verify
            # tier's Jaccard AND the signatures are computed from these, so
            # a SQL oracle can replay the ENTIRE minhash+LSH pipeline —
            # parity holds at any scale, independent of LSH recall
            hv = _shingle_hashes_md5_np(t, k, word_cache=wcache)
            if hv.size == 0:
                sigs.append(None)
                hs.append(None)
                continue
            # a < 2^31, h < 2^31 -> a*h + b < 2^63: exact in int64
            sigs.append(((a_col * hv[None, :] + b_col) % MERSENNE_P).min(axis=1))
            hs.append(hv)
        return pd.DataFrame({"sig": sigs, "h": hs})

    f = df.select(F.col(id_col).alias("__id"), _feat(F.col(text_col)).alias("__f"))
    return f.select("__id", F.col("__f.sig").alias("__sig"), F.col("__f.h").alias("__h")).filter(
        F.col("__sig").isNotNull()
    )


def _bands_from_sig(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, band, bucket) banded form of a signature frame — the LSH
    index rows. The bucket key is the band's signature values themselves
    (joined as a string) rather than a hash of them: engine-portable (a SQL
    oracle can build the identical key), collision-free by construction,
    and the equi-join cost is the same — the key is a few dozen bytes
    either way. Rows with an empty or NULL ``__sig`` (a doc under the
    shingle width) band to nothing: every band of theirs would be the
    bucket ``''``, pairing each such doc with every other one only to
    verify at 0."""
    rows_per_band = num_hashes // bands
    return sig.filter(F.size("__sig") > 0).select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("__sig")[i].cast("string")
                                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")


def _minhash_pairs(
    feats: DataFrame,
    banded: DataFrame,
    threshold: float,
    history: tuple[DataFrame, DataFrame] | None = None,
    broadcast_new: bool = False,
    max_broadcast_candidates: int = 2_000_000,
) -> tuple[DataFrame, DataFrame | None]:
    """The one MinHash pair engine: a batch against optional history.

    ``feats`` is the batch's persisted ``minhash_features`` and ``banded``
    its ``_bands_from_sig`` rows (the caller bands once; the store probe
    also reads them for its partition pruning). ``history`` is the
    ``(features, bands)`` of already-screened documents: cached features
    in memory, or the on-disk store's feature scan and pruned index scan.

    Returns ``(within, cross)``, both verified with exact Jaccard on the
    ``__h`` shingle-hash sets (the same persisted pass the bands came
    from, so nothing is re-shingled):

    - ``within`` — ``(id_a, id_b, jaccard_sim)`` with ``id_a < id_b``: the
      batch's band self-join;
    - ``cross`` — ``(id_new, id_old, jaccard_sim)``: batch vs history, or
      ``None`` without history. The side lives in the column names, so no
      caller decodes it from the ids.

    ``broadcast_new=True`` pins every batch-derived frame (bands,
    candidate pairs, shingle sets) to the build side of its join, so the
    HISTORY side — index scan and feature scan, the 100 TB frames —
    streams through broadcast hash joins with ZERO history-side Exchange
    (the only shuffles left are candidate-pair-sized: the dedup
    `distinct`). Only safe under the incremental contract that the batch
    is store-fraction-sized; the in-memory callers keep shuffled joins
    because they pass arbitrarily large batches.

    The CROSS candidate-pair frame is the one batch-derived frame whose
    size the incremental contract does NOT bound: it is batch bands x
    store bucket occupancy, so one hot/skewed bucket in a large store can
    make it arbitrarily large, and an explicit broadcast hint bypasses
    autoBroadcastJoinThreshold entirely (ADVICE r7). So the pair frame's
    hint is GUARDED: pairs are persisted and counted (the count reuses the
    already-pruned, already-broadcast band join — one cheap job over work
    the verify pays anyway), and past ``max_broadcast_candidates`` the
    pair-vs-history-features join falls back to a shuffle while the
    genuinely batch-sized frames (bands, shingle sets) keep their hints.
    The broadcast frame is the pair frame ALONE (two longs per row — the
    join order below attaches shingle arrays only after the history join,
    so the count cap is a real byte cap): 2M pairs x 16 B = ~32 MB,
    well inside executor/driver broadcast comfort.
    """
    maybe_b = F.broadcast if broadcast_new else (lambda df: df)
    nb = banded.select("__id", "band", "bucket")

    def shingles_as(df: DataFrame, id_name: str, h_name: str) -> DataFrame:
        return df.select(F.col("__id").alias(id_name), F.col("__h").alias(h_name))

    within = (
        maybe_b(nb.select("band", "bucket", F.col("__id").alias("id_a")))
        .join(nb.select("band", "bucket", F.col("__id").alias("id_b")), on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .join(maybe_b(shingles_as(feats, "id_a", "__sh_a")), on="id_a")
        .join(maybe_b(shingles_as(feats, "id_b", "__sh_b")), on="id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
    if history is None:
        return within, None
    hist_feats, hist_bands = history
    cands = (
        maybe_b(nb.select("band", "bucket", F.col("__id").alias("id_new")))
        .join(
            hist_bands.select("band", "bucket", F.col("__id").alias("id_old")),
            on=["band", "bucket"],
        )
        .select("id_new", "id_old")
        .distinct()
    )
    cand_b = lambda df: df  # noqa: E731
    if broadcast_new:
        cands = fence.persist(cands)
        if cands.count() <= max_broadcast_candidates:
            cand_b = F.broadcast
    cross = (
        # JOIN ORDER is the byte bound (self-review r8): broadcast the
        # PAIR frame alone (two longs per row — the count cap really is a
        # byte cap) against the history features first, THEN attach the
        # batch shingle arrays from the broadcast batch side. Hinting
        # pairs JOIN batch shingles (the pre-r8 shape) would broadcast
        # per-pair SHINGLE ARRAYS — count-capped but not byte-capped (a
        # hot bucket at just-under-cap pair counts x KB-sized arrays is
        # GBs).
        cand_b(cands)
        .join(shingles_as(hist_feats, "id_old", "__sh_o"), on="id_old")
        # batch-side shingles: genuinely batch-bounded, hint kept so the
        # pair-sized stream side never shuffles
        .join(maybe_b(shingles_as(feats, "id_new", "__sh_n")), on="id_new")
        .select(
            "id_new",
            "id_old",
            jaccard(F.col("__sh_n"), F.col("__sh_o")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return within, cross


def _with_sides(within: DataFrame, cross: DataFrame | None) -> DataFrame:
    """The incremental operators' one frame: ``(id_a, id_b, jaccard_sim,
    vs)`` with ``id_a < id_b``; ``vs`` names the partner's side,
    ``'store'`` (history) or ``'batch'``."""
    within = within.withColumn("vs", F.lit("batch"))
    if cross is None:
        return within
    return cross.select(
        F.least("id_new", "id_old").alias("id_a"),
        F.greatest("id_new", "id_old").alias("id_b"),
        "jaccard_sim",
        F.lit("store").alias("vs"),
    ).unionByName(within)


def minhash_feature_pairs(
    features: DataFrame,
    threshold: float = 0.7,
    history: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame | None]:
    """Near-dup pairs of precomputed ``minhash_features`` (persist them:
    banding and verify both read the frame), optionally against the
    ``history`` features of already-screened documents. Returns the
    engine's ``(within, cross)``: ``(id_a, id_b, jaccard_sim)`` inside
    the batch, and ``(id_new, id_old, jaccard_sim)`` against history
    (``None`` without it). For a caller that needs the features for more
    than pairing, so it pays the shingling pass once (the corpus near-dup
    stream publishes them)."""
    hist = None
    if history is not None:
        hist = (history, _bands_from_sig(history, num_hashes, bands))
    return _minhash_pairs(
        features, _bands_from_sig(features, num_hashes, bands), threshold, hist
    )


def minhash_incremental_pairs(
    store_features: DataFrame,
    batch_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dedup: new-batch documents vs an EXISTING MinHash
    feature store, without recomputing (or even reading the text of) the
    stored corpus (VERDICT r5 item 5).

    ``store_features`` is a persisted ``minhash_features`` output
    ``(__id, __sig, __h)`` — in production a parquet/bucketed table that
    grew batch by batch; each published doc carries its signature AND its
    31-bit shingle-hash set, so screening a new batch never re-shingles
    history (the same sink-is-the-index design as
    streaming/corpus.run_corpus_neardup_upsert). Ids must be unique across
    store ∪ batch (caller contract).

    Returns ``(id_a, id_b, jaccard_sim, vs)`` with ``id_a < id_b`` for
    every near-dup pair touching at least one batch doc; ``vs`` says
    whether the partner is a ``'store'`` doc or another ``'batch'`` doc.

    EQUIVALENCE (the oracle's lever): band buckets are pure per-doc
    functions of the text, so restricting the full-union band self-join to
    pairs with >= 1 batch side loses exactly the store-store pairs — which
    were already found when the store was built. Hence this equals
    ``minhash_dedup_pairs(store_docs UNION batch_docs)`` filtered to
    batch-touching pairs, at ANY scale, and applying it batch-by-batch
    replays the full-corpus result incrementally (asserted in pytest).
    Against an empty store it is ``minhash_dedup_pairs(batch_docs)``, all
    ``vs = 'batch'``: both are the same engine (``_minhash_pairs``).

    Scale shape: one Arrow UDF pass over the NEW batch only; the
    batch-vs-store candidate join is an equi-join on (band, bucket) — at
    100 TB partition/bucket the store's banded index by bucket prefix so
    the probe prunes to matching buckets instead of scanning the index.
    Nothing rescans corpus text; the verify joins shingle arrays already
    sitting in the two feature frames.

    Broadcast hints were MEASURED AND DECLINED here (r12): unlike the
    on-disk probe — whose store side is a pruned index SCAN that broadcast
    hints keep exchange-free — this path's store bands are a computed
    explode over the cached features, and pinning the batch side to three
    broadcast builds plus the guarded pair count measured ~15% SLOWER in
    an interleaved A/B at sf0.1 (med 3.6 -> 4.1 s). The shuffled joins
    stay.
    """
    new_feats = fence.persist(minhash_features(batch_docs, id_col, text_col, num_hashes, k, seed))
    return _with_sides(
        *minhash_feature_pairs(new_feats, threshold, store_features, num_hashes, bands)
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact shingle Jaccard.
    Output: (id_a, id_b, jaccard_sim) for pairs >= threshold.

    One UDF pass computes signatures + shingle-hash sets together
    (``minhash_features``, persisted: CollapseProject would otherwise
    inline the UDF into every band's bucket string); banding reads
    ``__sig``, the exact-Jaccard verify joins ``__h`` from the SAME
    persisted frame. The only wide ops are one explode (rows x bands) and
    one equi-self-join on the band bucket — no crossJoin anywhere. This is
    the pair engine with no history. Verifying on 31-bit shingle-hash
    arrays instead of shingle strings makes the intersection a long-array
    compare (~5x cheaper) with identical Jaccard barring within-pair
    collisions (~1e-6 at these set sizes)."""
    feats = fence.persist(minhash_features(df, id_col, text_col, num_hashes, k, seed))
    return minhash_feature_pairs(feats, threshold, None, num_hashes, bands)[0]


def ngram_inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    k: int = 3,
    max_df: int | None = None,
    include_sizes: bool = True,
    persist_shingles: bool = False,
) -> DataFrame:
    """The sparse inverted index behind ``ngram_jaccard_pairs``: one row per
    (block, shingle-hash, doc) with the doc's kept-shingle count ``__n``.

    With ``max_df`` set, shingles whose in-block document frequency exceeds
    the cap are dropped from BOTH the index and the set sizes, so the
    longest inverted list is bounded by ``max_df`` — the lever that keeps
    the self-join's O(df²) row blow-up bounded under boilerplate-heavy
    corpora at 100 TB (tests/test_extensions.py asserts the bound on an
    adversarial corpus). Public so tests and capacity planning can inspect
    list lengths directly.

    ``persist_shingles`` (r12) caches the PRE-explode per-doc shingle
    frame: callers whose plan consumes the index through more than one
    branch (the jaccard self-join reads it twice) otherwise re-run the
    scan + Arrow shingle pass per branch — the fence is one row per doc
    (array column), far smaller than the exploded index, and at 100 TB it
    is the difference between one and two full corpus reads."""

    @arrow_udf(ArrayType(LongType()))
    def _shs(texts: pd.Series) -> pd.Series:
        wcache: dict = {}
        return pd.Series(
            [_shingle_hashes_np(t, k, mod=None, word_cache=wcache) for t in texts]
        )

    sh = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("__id"),
        _shs(F.col(text_col)).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    if persist_shingles:
        sh = fence.persist(sh)
    inv = sh.select(
        *block_cols,
        F.col("__id"),
        F.size("__sh").alias("__n"),
        F.explode("__sh").alias("__s"),
    )
    if max_df is not None:
        # stop-shingle cut: recompute per-doc set sizes over the kept
        # shingles so Jaccard stays internally consistent. With
        # ``include_sizes=False`` the corrected ``__n`` is omitted and the
        # caller computes sizes as a doc-level aggregate — that avoids
        # re-shuffling the FULL index by (block, id) just to attach a
        # per-doc constant (ngram_jaccard_pairs joins sizes at the pair
        # level instead, which at 100 TB halves the index's shuffle bytes).
        keep = (
            inv.groupBy(*block_cols, "__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select(*block_cols, "__s")
        )
        kept = inv.drop("__n").join(keep, on=[*block_cols, "__s"])
        if not include_sizes:
            return kept
        sizes = kept.groupBy(*block_cols, "__id").agg(F.count(F.lit(1)).alias("__n"))
        inv = kept.join(sizes, on=[*block_cols, "__id"])
    return inv


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Blocked exact n-gram Jaccard via a sparse inverted index: explode
    shingles, equi-self-join on (block, shingle) to count each pair's
    intersection, then Jaccard from the counts. Work is proportional to
    actual shingle co-occurrences (sum over shingles of count-in-block
    choose 2), NOT block-size squared — pairs sharing nothing are never
    materialized (they can't reach any threshold > 0), which replaced a
    12 s block-pairwise array_intersect pass with a ~2 s join at sf0.1.
    The block key still bounds the worst case; at 100 TB pass ``max_df``
    (stop-shingle cut: shingles whose in-block document frequency exceeds
    the cap are dropped from BOTH the index and the set sizes) to bound
    the hot inverted lists — boilerplate shingles shared by thousands of
    docs contribute O(df²) join rows but almost no discriminating signal.
    With the cut the result is Jaccard over the *informative* shingle
    sets (slightly approximate vs raw Jaccard; default ``None`` = exact,
    which is what the SQL oracle checks). Or fall back to MinHash-LSH,
    which needs no blocks.

    Shingles are hashed to int64 (the same vectorized UDF as
    ``minhash_features`` — the JVM transform/slice/concat_ws shingling runs
    interpreted at ~1 ms/doc); full-width hashes keep Jaccard identical to
    string shingles at ~2^-63 collision odds."""

    if max_df is None:
        # fast path: __n is computed in the pre-explode projection (free),
        # so it rides the index rows through the self-join. The self-join
        # consumes the index through TWO branches whose alias projections
        # make the exchange subplans non-identical (no ReuseExchange), so
        # persist the per-doc shingle frame (r12): one scan + one Arrow
        # shingle pass instead of two — at 100 TB one fewer full corpus
        # read. (Persisting the EXPLODED index instead was measured no
        # better and caches |shingles| rows instead of |docs|.)
        inv = ngram_inverted_index(
            df, id_col, text_col, block_cols, k=k, persist_shingles=True
        )
        a = inv.select(
            *block_cols,
            F.col("__s"),
            F.col("__id").alias("id_a"),
            F.col("__n").alias("__na"),
        )
        b = inv.select(
            *block_cols,
            F.col("__s"),
            F.col("__id").alias("id_b"),
            F.col("__n").alias("__nb"),
        )
        inter = (
            a.join(b, on=[*block_cols, "__s"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "__na", "__nb")
            .agg(F.count(F.lit(1)).alias("__i"))
        )
    else:
        # max_df path: corrected sizes are a doc-level aggregate joined at
        # the PAIR level — the full index is shuffled once (by block+shingle
        # for the self-join), never re-shuffled by doc just to attach __n
        # 3 plan branches consume the kept index (sizes, both self-join
        # sides) and its lineage contains the Arrow shingle UDF — persist
        # so the shingling+cut runs once, not three times (SCALE.md
        # multi-branch lineage discipline; measured ~2x at sf0.1)
        # (persist_shingles was measured a WASH here, r12: the cut's two
        # consumers of the raw index — the df aggregate and the keep join —
        # shuffle on the same (block, shingle) key, so the extra cache
        # write buys nothing; only the fast path's alias-divergent
        # self-join benefits from the doc-level fence)
        kept = fence.persist(ngram_inverted_index(
            df, id_col, text_col, block_cols, k=k, max_df=max_df, include_sizes=False
        ))
        sizes = kept.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
        a = kept.select(*block_cols, F.col("__s"), F.col("__id").alias("id_a"))
        b = kept.select(*block_cols, F.col("__s"), F.col("__id").alias("id_b"))
        inter = (
            a.join(b, on=[*block_cols, "__s"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__i"))
            .join(
                sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")),
                on="id_a",
            )
            .join(
                sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")),
                on="id_b",
            )
        )
    jac = F.col("__i").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__i")
    ).cast("double")
    return inter.select("id_a", "id_b", jac.alias("jaccard_sim")).filter(
        F.col("jaccard_sim") >= threshold
    )


@arrow_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-batched; numpy bit-vote).

    Token hash = xxhash-free portable variant: md5 of token, low 64 bits —
    deterministic across workers and Python versions.
    """
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    bit_cache: dict[str, np.ndarray] = {}  # token -> ±1 bit votes (vocab is small)

    def token_bits(tok: str) -> np.ndarray:
        cached = bit_cache.get(tok)
        if cached is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
            bits = ((np.uint64(h) >> shifts) & np.uint64(1)).astype(np.int64)
            cached = bit_cache[tok] = 2 * bits - 1
        return cached

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = t.split()
        if not toks:
            continue
        # vote once per UNIQUE token weighted by count: turns O(n_tokens)
        # tiny-array adds into O(n_unique) — synthetic/corpus vocab is far
        # smaller than token count
        uniq, cnt = np.unique(toks, return_counts=True)
        bits = np.stack([token_bits(tok) for tok in uniq])
        votes = (bits * cnt[:, None]).sum(axis=0)
        sig = 0
        for bit in range(64):
            if votes[bit] > 0:
                sig |= 1 << bit
        if sig >= 1 << 63:  # two's-complement into signed long
            sig -= 1 << 64
        out[i] = sig
    return pd.Series(out)


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: banded 16-bit chunks generate candidates
    (a pair within hamming distance 3 of 64 bits must agree on at least one
    of 4 chunks — pigeonhole), verified by exact ``bit_count(xor)``.

    The chunk rows are hash-partitioned on the join key once, before the
    two join sides split: both sides then read one shuffle (the second is a
    ``ReusedExchange``), so the signature UDF runs once per doc instead of
    once per side."""
    sig = df.select(
        F.col(id_col).alias("__id"), simhash64(F.col(text_col)).alias("__sig")
    )
    chunks = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("__sig", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select("__id", "__sig", "cc.chunk", "cc.key").repartition("chunk", "key")
    a = chunks.select("chunk", "key", F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a"))
    b = chunks.select("chunk", "key", F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b"))
    return (
        a.join(b, on=["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 20, driver_threshold: int = 2_000_000
) -> DataFrame:
    """Cluster near-dup pairs into groups.

    Input: (id_a, id_b) undirected edges. Output: (id, cluster_id) where
    cluster_id = min member id of the component.

    Hybrid strategy: a near-dedup edge set is tiny relative to the corpus
    (pairs survive LSH + verify), so below ``driver_threshold`` edges the
    components are solved with driver-side union-find — one collect, zero
    iterative joins. Above it, distributed min-label propagation runs with
    a pointer-doubling shortcut (each iteration takes the min of neighbor
    labels AND the label's own label), so convergence is O(log diameter)
    joins, not O(diameter) — a 1M-hop chain converges in ~20 iterations.
    Both paths produce identical labels (tested, including a chain far
    longer than the iteration budget). Raises if the budget is exhausted
    before convergence rather than returning silently wrong labels.

    Sets module-level ``LAST_CC_ITERS`` to the iteration count the
    distributed path used (0 for the driver path) so tests can assert the
    O(log diameter) convergence bound.
    """
    global LAST_CC_ITERS
    LAST_CC_ITERS = 0
    # the pair frame is usually the tail of an expensive lineage (feature
    # UDF pass + LSH joins + verify); this function fires 2+ actions on it
    # (size probe, collect/edge build), so persist once up front
    pairs = fence.persist(pairs.select("id_a", "id_b"))
    # ONE action decides the path AND fetches the edges (r11 opt: the old
    # limit().count() + collect() pair cost two sequential jobs over the
    # same cache): limit(threshold+1) returns EVERY edge when the graph is
    # under the threshold, and one sacrificial row past it otherwise.
    # Union-find labels are edge-order-insensitive (union-by-min keeps the
    # component's min id as root under any order), so the limit's
    # arbitrary order is harmless.
    edges_local = pairs.limit(driver_threshold + 1).collect()
    if len(edges_local) <= driver_threshold:
        fence.release(pairs)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges_local:
            a, b = r.id_a, r.id_b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the cluster label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        return local_frame(spark, rows, "id long, cluster_id long")
    edges = fence.persist(  # read every iteration of the propagation loop
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    edges.count()  # materialize the edge cache, then drop the pair cache:
    fence.release(pairs)  # the loop only ever reads ``edges`` from here on
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for it in range(max_iters):
        # every join in this loop is big-big at scale (labels is node-sized,
        # edges is edge-sized): hint shuffle_hash so the optimizer never
        # tries to build+broadcast the label table (driver OOM on a large
        # graph, and the wrong plan at 100 TB regardless)
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min.hint("shuffle_hash"), labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer doubling: also adopt the label of the current label, so a
        # min label hops 2^k nodes after k iterations instead of k
        parent = stepped.select(
            F.col("id").alias("__pid"), F.col("cluster_id").alias("__plabel")
        )
        new_labels = (
            stepped.join(parent.hint("shuffle_hash"), stepped.cluster_id == F.col("__pid"), "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("__plabel"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # localCheckpoint truncates the lineage each iteration: the doubling
        # self-join would otherwise nest the plan exponentially (driver OOM
        # on plan size by ~iteration 8, measured)
        new_labels = fence.checkpoint(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o").hint("shuffle_hash"), on="id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        # the new checkpoint is materialized and the changed-probe (the last
        # reader of the previous one) has run: free the previous iteration's
        # checkpoint blocks (the first iteration's seed labels are unpinned)
        fence.release(labels)
        labels = new_labels
        LAST_CC_ITERS = it + 1
        if changed == 0:
            fence.release(edges)
            return labels
    fence.release(edges)
    fence.release(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations "
        "(graph diameter > 2^max_iters is implausible for near-dup data — "
        "check the pair generator)"
    )


def dedup_corpus(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop near-duplicates: keep one canonical row (min id) per connected
    component of the pair graph, plus every row that appears in no pair.
    This is the operation a training-data pipeline actually runs after
    MinHash/SimHash/embedding pair generation."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH buckets + exact verify.

    Deterministic random hyperplanes (numpy, fixed seed) ship inside the
    plane-dots pandas UDF (one BLAS matmul per Arrow batch); the bucket is
    the 8-bit sign pattern, so the self-join is an equi-join on a small
    key — no crossJoin. Pairs split across adjacent buckets are missed
    (recall < 1, like any LSH); raise n_planes/band count for tighter
    recall control.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    # __dots gets its own projection so the UDF isn't re-inlined per bit.
    with_dots = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        matrix_dots_udf(planes)(F.col(vec_col)).alias("__dots"),
    )
    bucket = sum(
        F.when(F.element_at(F.col("__dots"), i + 1) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        for i in range(n_planes)
    )
    # hash-partitioned on the join key before the sides split: both read
    # one shuffle (a ReusedExchange), so the plane dots run once per vector
    keyed = with_dots.select("__id", "__v", bucket.alias("__bucket")).repartition("__bucket")
    a = keyed.select("__bucket", F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    b = keyed.select("__bucket", F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        a.join(b, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_pairs(F.col("__va"), F.col("__vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def store_manifest(path: str) -> dict:
    """The store's one-row manifest ``(num_hashes, bands, num_prefixes, k,
    seed)`` as a dict, read driver-side (:func:`..sources.loaders.read_record`:
    no inference or collect job). Every parameter changes the bucket
    strings or the partition layout, so a consumer must take them from
    here, never from its own defaults. A path with no manifest is not a
    store and fails loudly."""
    m = read_record(f"{path}/manifest")
    if m is None:
        raise ValueError(
            f"{path} is not a minhash store: it has no manifest "
            "(create one with bootstrap_minhash_store)"
        )
    return m


#: versioned root of a store: the live index/features trees sit inside one
#: generation directory ``{path}/store/data/v=N``
_GEN = "store"


def _gen_root(path: str) -> str:
    return f"{path}/{_GEN}"


def _store_trees(path: str) -> tuple[str, str]:
    """Resolved ``(features_dir, index_dir)`` live trees of a minhash store,
    through the generation pointer — appends are dynamic partition
    overwrites INTO the current generation (the live tree is mutable; what
    is immutable is a SUPERSEDED generation), and only compaction creates
    a new generation. A path with no pointer is not a store."""
    from ..sources import versioned as V

    root = _gen_root(path)
    v = V.current_version(root)
    if v is None:
        raise ValueError(
            f"{path} is not a minhash store: it has no generation pointer "
            "(create one with bootstrap_minhash_store)"
        )
    d = V.snapshot_path(root, v)
    return f"{d}/features", f"{d}/index"


def store_ingests(path: str) -> list[int]:
    """Ingest keys the store's live generation holds, ascending — empty
    until the first non-empty append ("has this store ingested
    anything"). Read from the ``__ingest=`` partition directory names of
    the features tree: no Spark job."""
    import os

    feats_dir = _store_trees(path)[0]
    if not os.path.isdir(feats_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(feats_dir)
        if d.startswith("__ingest=")
    )


def heal_minhash_store(path: str) -> None:
    """Pre-read heal run by every store consumer entry point: prune
    generations ABOVE the pointer — compactions that never published.
    There is no restore arm: the pointed generation stayed live through
    any crash. Generations BELOW the pointer are deliberately not heal's
    business: they are retained reader-grace history
    (``compact_minhash_store(keep_generations>1)``) or a post-flip vacuum
    crash's leftovers, and the next compaction's vacuum applies the
    retention policy either way."""
    from ..sources import versioned as V

    V.heal(_gen_root(path))


def bootstrap_minhash_store(
    spark,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    num_prefixes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> None:
    """Create an EMPTY on-disk minhash store laid out for PRUNED probes
    (``minhash_store_probe``); ``append_minhash_store`` fills it:

    - ``features`` — ``(__id, __sig, __h)`` partitioned by ``__ingest``:
      the verify tier (shingle sets ride with the store, history is never
      re-shingled);
    - ``index`` — the banded LSH rows ``(__id, bucket)`` partitioned by
      ``(band, __pfx = xxhash64(bucket) mod num_prefixes, __ingest)``, so
      a batch probe reads only the (band, prefix) directories its own
      buckets hash into instead of scanning the whole index;
    - ``manifest`` — one row ``(num_hashes, bands, num_prefixes, k,
      seed)``: every parameter changes the bucket strings or the partition
      layout, so a probe under different values would silently MISS true
      pairs — consumers take them from :func:`store_manifest`, never from
      their caller.

    ``__ingest`` is a monotone batch key. A store built from one corpus is
    this bootstrap plus ``append_minhash_store(features, path, 0)``; the
    index/features trees appear with the first non-empty append.

    Both live trees sit inside ONE generation directory
    ``{path}/store/data/v=N`` behind a pointer (:mod:`..sources.versioned`).
    Appends are dynamic partition overwrites into the CURRENT generation
    (the log-structured contract); compaction materializes the folded
    trees as generation N+1 and publishes BOTH with one atomic pointer
    flip, so index and features never publish apart and a crash leaves
    only an unpointed generation to prune (:func:`heal_minhash_store`)."""
    import os

    from ..sources import versioned as V

    if num_hashes % bands != 0:
        raise ValueError(
            f"bootstrap_minhash_store: bands={bands} must divide num_hashes={num_hashes}"
        )
    local_frame(
        spark,
        [(num_hashes, bands, num_prefixes, k, seed)],
        "num_hashes int, bands int, num_prefixes int, k int, seed int",
    ).write.mode("overwrite").parquet(f"{path}/manifest")
    # generation 1 starts EMPTY: the version directory exists so the
    # pointer has a referent, but the features/index subtrees only appear
    # with the first append ("has this store ingested anything yet")
    root = _gen_root(path)
    os.makedirs(V.snapshot_path(root, 1), exist_ok=True)
    V.publish(root, 1)


def append_minhash_store(features: DataFrame, path: str, ingest_id: int) -> None:
    """Accrete one batch's ``minhash_features`` into a store
    (``bootstrap_minhash_store``), REPLAY-IDEMPOTENTLY: both writes are
    dynamic partition overwrites of the batch's own ``__ingest`` leaf
    partitions, so re-running the same (features, ingest_id) replaces the
    previous attempt's rows instead of duplicating them — the property the
    streaming ingest loop's at-least-once replay leans on. ``ingest_id``
    must be monotone across batches (the streaming wrapper derives it from
    epoch x 1e9 + micro-batch id); probes exclude the in-flight batch with
    ``max_ingest_exclusive=ingest_id``.

    Layout: ``features`` partitioned by ``__ingest``; ``index`` partitioned
    by ``(band, __pfx, __ingest)`` — band/pfx stay the LEADING directory
    levels, so the probe's static (band, pfx) pruning is unchanged and the
    ingest filter prunes the trailing level. Both trees resolve into the
    store's current GENERATION directory (a dynamic partition overwrite of
    the batch's own leaves inside the live tree; only compaction changes
    generations).
    """
    m = store_manifest(path)
    num_hashes, bands, num_prefixes = m["num_hashes"], m["bands"], m["num_prefixes"]
    head = features.select(F.size("__sig").alias("n")).first()
    if head is None:
        return  # empty batch: nothing to accrete, probe prunes to nothing
    if head["n"] != num_hashes:
        raise ValueError(
            f"append_minhash_store: features carry {head['n']}-hash signatures "
            f"but the store manifest says {num_hashes}"
        )
    feats_dir, idx_dir = _store_trees(path)
    stamped = features.withColumn("__ingest", F.lit(ingest_id).cast("long"))
    (
        stamped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__ingest")
        .parquet(feats_dir)
    )
    idx = _bands_from_sig(features.select("__id", "__sig"), num_hashes, bands)
    idx = idx.withColumn(
        "__pfx", F.pmod(F.xxhash64("bucket"), F.lit(num_prefixes))
    ).withColumn("__ingest", F.lit(ingest_id).cast("long"))
    # cluster on the partition keys before the partitioned write: without
    # this every input partition writes into every (band, pfx) directory —
    # input_partitions x bands x num_prefixes tiny files (the classic
    # partitionBy small-files explosion); with it each directory gets one
    # writer. The clustering shuffle is batch-index-sized.
    idx = idx.repartition("band", "__pfx")
    (
        idx.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("band", "__pfx", "__ingest")
        .parquet(idx_dir)
    )


def compact_minhash_store(
    spark, path: str, upto_exclusive: int, keep_generations: int = 1
) -> tuple[int, int]:
    """Fold a store's accumulated ingest partitions together
    (the OPTIMIZE of the log-structured dedup store).

    Every ``append_minhash_store`` batch adds one leaf-file set per
    touched (band, pfx) directory, so probe cost grows with FILE COUNT —
    per-file open/footer overhead — even while the logical index barely
    grows (measured: small-batch drains 33 s -> 66 s as ingests piled up,
    SCALE.md r8). Compaction rewrites all rows with ``__ingest <
    upto_exclusive`` into ONE consolidated partition per directory
    (stamped ``upto_exclusive - 1``, so every probe with
    ``max_ingest_exclusive >= upto_exclusive`` — all future batches —
    still sees exactly the same history), preserves in-flight ingests
    ``>= upto_exclusive`` untouched. Cost: one index-sized + one
    features-sized pass — never the corpus text.

    SAFETY CONTRACT (the one thing compaction trades away): replaying an
    ingest batch BELOW ``upto_exclusive`` after compaction would
    re-append its rows (its idempotent overwrite target no longer
    exists) and duplicate history. foreachBatch only ever replays the
    last uncommitted micro-batch, so pass the stream's last COMMITTED
    ingest key (or lower) — equivalently, compact while the stream is
    stopped.

    PUBLICATION: both folded trees materialize under generation ``N+1``
    and publish with ONE atomic pointer flip, then superseded generations
    are vacuumed. No rename ever touches live data (object-store-safe), a
    crash before the flip leaves an unpointed generation that
    :func:`heal_minhash_store` prunes, and a crash after it leaves only
    the old generation to vacuum.

    ``keep_generations`` is the reader-grace retention window: superseded
    generations up to this count stay on disk after the flip, so an
    EXTERNAL probe that resolved its tree paths just before the
    compaction finishes against the immutable old generation instead of
    dying mid-plan — the same retention-window contract every lakehouse
    vacuum has. The default 1 (latest only) matches the single-writer
    ingest loop, where no concurrent reader exists; multi-reader
    deployments should keep >= 2 and vacuum on their own probe-lifetime
    bound. Heal never prunes below the pointer, so retention survives the
    loop's per-batch heals.

    Returns (files_before, files_after) over index + features.
    """
    import glob as _glob
    import os as _os

    def _nfiles(feats_dir: str, idx_dir: str) -> int:
        return len(
            _glob.glob(_os.path.join(idx_dir, "**", "*.parquet"), recursive=True)
        ) + len(
            _glob.glob(_os.path.join(feats_dir, "**", "*.parquet"), recursive=True)
        )

    from ..sources import versioned as V

    root = _gen_root(path)
    # resolved first: a path with no pointer fails here, before heal
    feats_dir, idx_dir = _store_trees(path)
    # a PRIOR compaction may have crashed before its flip — prune its
    # generation before reading (the in-loop caller replays the same
    # batch, so the re-run lands here first and self-heals)
    heal_minhash_store(path)
    before = _nfiles(feats_dir, idx_dir)
    stamp = F.lit(upto_exclusive - 1).cast("long")
    folded_ing = F.when(
        F.col("__ingest") < upto_exclusive, stamp
    ).otherwise(F.col("__ingest"))
    idx = read_parquet(spark, idx_dir).withColumn("__ingest", folded_ing)
    # one writer per directory (append_minhash_store's clustering rule)
    idx = idx.repartition("band", "__pfx")
    feats = read_parquet(spark, feats_dir).withColumn("__ingest", folded_ing)
    feats = feats.repartition("__ingest")
    next_v = V.next_version(root)
    next_dir = V.snapshot_path(root, next_v)
    (
        idx.write.mode("errorifexists")
        .partitionBy("band", "__pfx", "__ingest")
        .parquet(f"{next_dir}/index")
    )
    (
        feats.write.mode("errorifexists")
        .partitionBy("__ingest")
        .parquet(f"{next_dir}/features")
    )
    V.publish(root, next_v, keep_last=max(1, keep_generations))
    return before, _nfiles(f"{next_dir}/features", f"{next_dir}/index")


#: a probe prunes the index scan only while the batch touches at most this
#: many (band, pfx) directories (and at most half of them, see the probe)
MAX_PRUNED_TERMS = 4096


def minhash_store_probe(
    batch_docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    max_broadcast_candidates: int = 2_000_000,
    batch_features: DataFrame | None = None,
    max_ingest_exclusive: int | None = None,
) -> DataFrame:
    """``minhash_incremental_pairs`` against an on-disk store
    (``bootstrap_minhash_store`` + ``append_minhash_store``), with STATIC
    partition pruning: the batch's distinct (band, prefix) pairs — a
    metadata-bounded driver collect of at most ``bands * num_prefixes``
    tuples — become partition filters on the index scan, so only matching
    directories are read (PartitionFilters plan-asserted in tests). Falls
    back to a full index scan if the batch touches more than
    ``MAX_PRUNED_TERMS`` partitions (then pruning buys nothing).

    Algorithm parameters come from the store's MANIFEST, never from the
    caller: any mismatch (different num_hashes/bands/k/seed changes the
    bucket strings, different num_prefixes changes the partition layout)
    would silently MISS true pairs rather than fail.

    Every batch-derived frame is pinned to the broadcast side (the
    incremental contract: a probe batch is minutes/hours of new docs vs an
    accreted store, so it is store-fraction-sized by construction),
    making the store side EXCHANGE-FREE: the pruned index scan and the
    feature scan stream straight into broadcast hash joins (plan-asserted
    in tests — no SortMergeJoin/ShuffledHashJoin anywhere in the probe).
    The candidate-PAIR frame's hint is additionally guarded by a count
    (``_minhash_pairs``, the pair engine every MinHash operator shares):
    pair count is store-bucket-occupancy-driven, not batch-bounded, so a
    hot bucket degrades that one join to a shuffle instead of an oversized
    broadcast (ADVICE r7).

    ``batch_features`` lets a caller that ALREADY computed the batch's
    ``minhash_features`` (the streaming accrete-then-probe loop pays the
    Arrow shingling pass once for both) hand them in; the frame is
    sanity-checked against the manifest's num_hashes — the manifest exists
    to prevent silent misses, so a bypass must not reopen that hole.
    ``max_ingest_exclusive`` restricts the store side to ingest keys
    strictly below the given value, which makes probe-after-append
    replay-idempotent: the probe sees exactly the history older than the
    batch being folded, even if that batch's own rows already landed.

    A store that has ingested nothing yet probes as EMPTY history: the
    engine runs without a history side, so the result is the within-batch
    pairs (``vs = 'batch'``) alone, with no pair count and no store read.
    """
    spark = batch_docs.sparkSession
    m = store_manifest(path)
    num_hashes, bands, num_prefixes, k, seed = (
        m["num_hashes"], m["bands"], m["num_prefixes"], m["k"], m["seed"]
    )
    if batch_features is not None:
        head = batch_features.select(F.size("__sig").alias("n")).first()
        if head is not None and head["n"] != num_hashes:
            raise ValueError(
                f"minhash_store_probe: batch_features carry {head['n']}-hash "
                f"signatures but the store manifest says {num_hashes} — "
                "a mismatched probe would silently miss pairs"
            )
        new_feats = fence.persist(batch_features)
    else:
        new_feats = fence.persist(
            minhash_features(batch_docs, id_col, text_col, num_hashes, k, seed)
        )
    new_bands = fence.persist(_bands_from_sig(
        new_feats.select("__id", "__sig"), num_hashes, bands
    ).withColumn("__pfx", F.pmod(F.xxhash64("bucket"), F.lit(num_prefixes))))
    if not store_ingests(path):
        # no trees on disk yet: empty history, so no cross half
        return _with_sides(
            *_minhash_pairs(new_feats, new_bands, threshold, broadcast_new=True)
        )
    # §2.6 overlap: the store-tree reads (partition discovery, plus a
    # schema-inference job whenever the tree changed since its last read)
    # are independent of the batch's feature pass — submit them from a
    # small pool so they run UNDER the touched-collect job instead of
    # serially after it.
    from concurrent.futures import ThreadPoolExecutor

    store_feats_dir, store_idx_dir = _store_trees(path)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fut_idx = _pool.submit(read_parquet, spark, store_idx_dir)
        _fut_feats = _pool.submit(read_parquet, spark, store_feats_dir)
        touched = [
            (r["band"], r["__pfx"])
            for r in new_bands.select("band", "__pfx").distinct().collect()
        ]
    idx = _fut_idx.result()
    # prune only when it can pay: past half the directory space the scan
    # reads most of the index anyway and the per-partition filter
    # evaluation is pure overhead (measured: a batch touching 64% of a
    # 1024-dir store probed SLOWER pruned than full-scan); the pruning
    # regime is small-batch-vs-big-store, which is the incremental
    # contract's steady state
    prune_cap = min(MAX_PRUNED_TERMS, (bands * num_prefixes) // 2)
    if 0 < len(touched) <= prune_cap:
        # ONE flat In node, not an OR chain: a reduce-built Or tree is
        # MAX_PRUNED_TERMS deep and overflows the JVM analyzer stack past
        # a few hundred terms (hit at 656 in testing). Encoding the pair
        # as band*P + pfx keeps the predicate a pure function of the two
        # partition columns, so it still lands in PartitionFilters
        # (plan-asserted in tests), and Catalyst turns the large In into
        # an O(1)-lookup InSet.
        enc = F.col("band") * F.lit(num_prefixes) + F.col("__pfx")
        idx = idx.filter(enc.isin([b * num_prefixes + p for b, p in touched]))
    store_features = _fut_feats.result()
    if max_ingest_exclusive is not None:
        # __ingest is a partition column of both trees, so both filters
        # prune directories, composing with the (band, pfx) prune
        idx = idx.filter(F.col("__ingest") < F.lit(max_ingest_exclusive))
        store_features = store_features.filter(
            F.col("__ingest") < F.lit(max_ingest_exclusive)
        )
    return _with_sides(*_minhash_pairs(
        new_feats, new_bands, threshold, (store_features, idx),
        broadcast_new=True,
        max_broadcast_candidates=max_broadcast_candidates,
    ))
