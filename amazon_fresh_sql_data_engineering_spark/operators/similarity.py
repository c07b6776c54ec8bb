"""Similarity search over embedding columns (BASELINE.json scope).

Two tiers, as any production vector path:
- :func:`cosine_topk_bruteforce` — exact top-k: queries x corpus join with
  JVM-side cosine, per-query top-k via a window. Correctness baseline; the
  join is queries-broadcast x corpus-scan, so it scales linearly in corpus
  size but only for small query sets.
- :func:`lsh_topk` — sign-LSH bucketed candidates + exact rerank: the scale
  path. Candidates come from equi-joining on any of ``n_bands`` bucket keys
  (multi-probe by banding), so the corpus is never crossJoined; recall is
  tunable via bands/planes and measured in tests against brute force.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrow import arrow_udf
from ..functions.vectors import (
    cosine,
    cosine_pairs,
    matrix_cosine_top_udf,
    matrix_dots_udf,
    to_double,
)


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..k,
    deterministic tiebreak on (rounded cosine desc, neighbor id).
    Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), to_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), to_double(F.col(vec_col)).alias("__cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _band_keys_from_dots(dots, n_planes: int, bands: int):
    """``bands`` bucket keys straight from an ``array<double>`` of plane
    dot products (sign >= 0 -> bit 1; band index folded into the key so
    buckets never collide across bands): keeps banding as flat
    codegen-able element_at/CASE expressions over the UDF output column."""
    per_band = n_planes // bands
    keys = []
    for b in range(bands):
        key = F.lit(b * (1 << (per_band + 1)))
        for i in range(per_band):
            bit = F.when(F.element_at(dots, b * per_band + i + 1) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            key = key + bit
        keys.append(key.cast("long"))
    return F.array(*keys)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into inverted
    lists by nearest centroid, search only ``n_probe`` lists per query.

    Centroids are sampled deterministically (first ``n_clusters`` corpus
    vectors by id) — no Lloyd iterations, so assignment is reproducible
    and training-free; recall is tuned by n_probe (measured in tests).
    Centroids are collected to the driver (k x dim floats — metadata-sized)
    and ship inside the assign/probe pandas UDF (one BLAS matmul + argsort
    per Arrow batch — the interpreted per-centroid cosine HOF was the
    hottest path of this query); assignment stays one narrow pass over the
    corpus, no shuffle. At 100 TB the corpus would be *written* partitioned
    by cluster id, making each probe a partition-pruned scan.
    """
    cent_rows = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("v"))
        .orderBy("cid")
        .limit(n_clusters)
        .collect()
    )
    labels = [int(r.cid) for r in cent_rows]
    matrix = [[float(x) for x in r.v] for r in cent_rows]
    assign1 = matrix_cosine_top_udf(matrix, labels, 1)
    probe_n = matrix_cosine_top_udf(matrix, labels, n_probe)

    corpus_assigned = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("__cluster"),
    )
    query_probes = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probe_n(F.col(vec_col))).alias("__cluster"),
    )

    # no distinct needed: each corpus row lands in exactly one inverted list
    # and a query's probe clusters are distinct, so a (query, neighbor) pair
    # can surface at most once — skipping it saves a full shuffle of the
    # embedding arrays.
    cand = (
        query_probes.join(corpus_assigned, on="__cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_pairs(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band bucket,
    then exact cosine reranks. Same output schema as brute force."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    plane_dots = matrix_dots_udf(planes)

    def banded(df, id_alias):
        # plane dot products come from one numpy matmul per Arrow batch
        # (the interpreted per-plane HOF dot was the hot path); they land
        # in their own projection so CollapseProject won't duplicate the
        # UDF per element_at in the band keys.
        with_dots = df.select(
            F.col(id_alias[0]).alias(id_alias[1]),
            plane_dots(F.col(vec_col)).alias("__dots"),
        )
        return with_dots.select(
            id_alias[1],
            F.explode(_band_keys_from_dots(F.col("__dots"), n_planes, bands)).alias("__bucket"),
        )

    # candidates dedup on (query, neighbor) IDS ONLY — a pair colliding in
    # several bands must rerank once, but shuffling the embedding arrays
    # xbands through the join and distinct is the wrong plan at scale; the
    # vectors re-attach afterwards via two equi-joins (AQE broadcasts the
    # small sides).
    q = banded(queries, (query_id, "query_id"))
    c = banded(corpus, (corpus_id, "neighbor_id"))
    cand = (
        q.join(c, on="__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        cand.join(qv, on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pairs(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    query_pred,
    k: int = 5,
    n_subspaces: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    rerank: int = 0,
) -> DataFrame:
    """Product-quantization ANN (Jegou/Douze/Schmid 2011): third index tier
    next to :func:`lsh_topk` (hash buckets) and :func:`ivf_topk` (coarse
    clusters) — PQ is the *memory* lever: each vector is stored as
    ``n_subspaces`` one-byte codes (here 4 B vs 256 B of raw float64), which
    is what lets a 100 TB corpus keep its whole index in executor memory.

    Engine-portable training discipline (op_kmeans_refine family):
    codebooks are per-subspace k-means with init = the ``n_codes`` lowest
    corpus ids, ONE Lloyd refinement, means ROUNDED to 6 dp; assignment
    distance is the sequential-fold squared L2 (both engines add in array
    order), ties to the lowest code id. Search is asymmetric distance
    (ADC): per query one ``n_subspaces x n_codes`` lookup table against the
    REAL query subvectors, summed over subspaces via an s-ordered fold,
    ROUNDED, then rank with (dist, id) tiebreak.

    Scale shape: codebook and ADC tables are (queries x m x k) metadata —
    always broadcast; the corpus is scanned once to encode (no shuffle) and
    the search join is code-keyed, so nothing all-pairs ever forms.

    ``rerank > 0`` adds the production second stage (IVFADC + rerank):
    the ADC pass keeps a shortlist of ``rerank`` candidates per query, the
    raw vectors of ONLY those candidates are fetched by an id-equi-join,
    and the final top-k is exact squared-L2 on the shortlist — quantization
    error then only costs recall when a true neighbor misses the whole
    shortlist. ``dist`` in the output is the exact distance in that mode.
    A query vector with a NULL or non-finite component raises
    ``ValueError`` in that mode.

    Execution (r12 rewrite, guide §2.4/§4.2 — same results, one fewer
    corpus-sized shuffle class): codebooks and ADC tables are METADATA
    (``n_subspaces * n_codes * sub_dim`` doubles, ~8 KB here), so they are
    collected to the driver — the ``ivf_topk`` precedent — and applied
    ROW-LOCALLY instead of through join+aggregate pipelines. The old form
    exploded the corpus x16 through two broadcast-join/min-aggregate
    assignment passes (two corpus-sized exchanges) and summed subspace
    distances with a third exchange into collect_list; the new form runs
    ONE Arrow-batched encode pass per assignment (numpy accumulates the
    squared-L2 fold dim-by-dim, bit-identical to the engines' sequential
    fold; ``np.argmin`` first-min tie-break == min cid) and scores each
    query with four ``element_at`` lookups into literal lookup arrays.
    Only the top-k window still shuffles — candidate-pair-sized rows.
    Codebook refinement (the genuinely corpus-sized aggregation) stays
    distributed: one groupBy over the assigned codes with map-side
    partial avg (the exchange carries <= n_subspaces*n_codes rows per
    task). All rounding stays in Spark expressions.

    EAGER: building the plan runs 3 driver jobs (the collect of init
    codebook + query vectors, then the refinement aggregate's shuffle and
    collect), so the corpus is read at call time, not at the first action.

    Returns (query_id, neighbor_id, approx_dist, rank), self excluded.
    """
    e = corpus.select(
        F.col(corpus_id).alias("__id"), to_double(F.col(vec_col)).alias("__v")
    )
    id_type = e.schema["__id"].dataType

    def dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def enc_udf(books):
        """argmin code POSITION per subspace, one Arrow batch at a time.

        ``acc += d*d`` accumulates the squared-L2 fold in dim order —
        per (row, code) the exact IEEE sequence of the engines' sequential
        fold — and ``np.argmin`` returns the FIRST minimum, i.e. the
        lowest position == lowest cid (books are cid-ascending)."""
        mats = [np.asarray(b, dtype=np.float64) for b in books]

        @arrow_udf("array<int>")
        def enc(vs: pd.Series) -> pd.Series:
            V = np.array(vs.tolist(), dtype=np.float64)
            if V.size == 0:
                return pd.Series([], dtype=object)
            out = np.empty((V.shape[0], len(mats)), dtype=np.int32)
            for s, C in enumerate(mats):
                U = V[:, s * sub_dim : (s + 1) * sub_dim]
                acc = np.zeros((V.shape[0], C.shape[0]))
                for i in range(sub_dim):
                    d = U[:, i : i + 1] - C[None, :, i]
                    acc += d * d
                out[:, s] = np.argmin(acc, axis=1)
            return pd.Series([r.tolist() for r in out])

        return enc

    def sub_fold(q, C):
        """Driver-side ADC row: squared-L2 of one query subvector against
        every codebook row, same dim-order accumulation as ``enc_udf``."""
        acc = np.zeros(C.shape[0])
        for i in range(sub_dim):
            d = q[i] - C[:, i]
            acc += d * d
        return acc

    # --- init codebook + query vectors: metadata-sized collect (the PQ
    # contract — a 4-byte-per-vector index only works because the model
    # state is tiny), pushed-filter scan, one job for both ---
    pred = query_pred(F.col("__id"))
    isinit = F.col("__id") < n_codes
    meta_rows = (
        e.where(pred | isinit)
        .select("__id", "__v", pred.alias("__isq"), isinit.alias("__isinit"))
        .collect()
    )
    init = sorted((r["__id"], r["__v"]) for r in meta_rows if r["__isinit"])
    queries = sorted((r["__id"], r["__v"]) for r in meta_rows if r["__isq"])
    if rerank > 0:
        # the rerank stage inlines query vectors as SQL double literals: a
        # NULL or non-finite component has no literal form (nan/inf would
        # fail deep in the SQL parser), so reject it here, by name
        for qid, qv in queries:
            if qv is None or any(x is None or not math.isfinite(x) for x in qv):
                raise ValueError(
                    f"pq_topk: query {qid!r} has a NULL or non-finite vector "
                    "component; rerank needs finite query vectors"
                )
    if not init or not queries:
        out_dist = "exact_dist" if rerank > 0 else "approx_dist"
        return e.select(
            F.col("__id").alias("query_id"),
            F.col("__id").alias("neighbor_id"),
            F.lit(0.0).alias(out_dist),
            F.lit(1).alias("rank"),
        ).where(F.lit(False))
    c0_books = [
        np.array(
            [v[s * sub_dim : (s + 1) * sub_dim] for _, v in init], dtype=np.float64
        )
        for s in range(n_subspaces)
    ]

    # --- one Lloyd refinement: distributed avg over the assigned groups
    # (identical operand multisets to the oracle's m1 CTE; round stays in
    # Spark). posexplode yields (subspace, code position) pairs. ---
    enc0 = enc_udf(c0_books)
    assigned = e.select(
        F.posexplode(enc0("__v")).alias("s", "cpos"), "__v"
    ).select("s", "cpos", F.expr(f"slice(__v, s * {sub_dim} + 1, {sub_dim})").alias("u"))
    c1_rows = (
        assigned.groupBy("s", "cpos")
        .agg(
            *[
                F.round(F.avg(F.element_at("u", i + 1)), 6).alias(f"m{i}")
                for i in range(sub_dim)
            ]
        )
        .collect()
    )
    means = {
        (r["s"], r["cpos"]): [r[f"m{i}"] for i in range(sub_dim)] for r in c1_rows
    }
    c1_books = []
    for s in range(n_subspaces):
        poss = sorted(p for (ss, p) in means if ss == s)
        c1_books.append(np.array([means[(s, p)] for p in poss], dtype=np.float64))

    # --- per-query ADC lookup tables (driver, metadata-sized); one Arrow
    # pass encodes AND sums the per-query lookups (D starts at 0.0 and adds
    # in s order — bit-identical to the engines' s-ordered fold; the LUTs
    # ride in the UDF closure, keeping the plan literal-free) ---
    lut_by_s = [
        np.stack(
            [
                sub_fold(
                    np.asarray(qv, dtype=np.float64)[
                        s * sub_dim : (s + 1) * sub_dim
                    ],
                    c1_books[s],
                )
                for _, qv in queries
            ]
        )
        for s in range(n_subspaces)
    ]
    mats = [np.asarray(b, dtype=np.float64) for b in c1_books]
    n_q = len(queries)

    @arrow_udf("array<double>")
    def adc_dists(vs: pd.Series) -> pd.Series:
        V = np.array(vs.tolist(), dtype=np.float64)
        if V.size == 0:
            return pd.Series([], dtype=object)
        D = np.zeros((V.shape[0], n_q))
        for s, C in enumerate(mats):
            U = V[:, s * sub_dim : (s + 1) * sub_dim]
            acc = np.zeros((V.shape[0], C.shape[0]))
            for i in range(sub_dim):
                d = U[:, i : i + 1] - C[None, :, i]
                acc += d * d
            codes = np.argmin(acc, axis=1)
            D += lut_by_s[s][:, codes].T
        return pd.Series([r.tolist() for r in D])

    # --- score every query row-locally (round stays in Spark), rank ---
    entries = [
        F.struct(
            F.lit(qid).cast(id_type).alias("query_id"),
            F.round(F.element_at("__d", qi + 1), 6).alias("approx_dist"),
        )
        for qi, (qid, _) in enumerate(queries)
    ]
    scored = (
        e.select("__id", adc_dists("__v").alias("__d"))
        .select("__id", F.explode(F.array(*entries)).alias("p"))
        .where(F.col("p.query_id") != F.col("__id"))
        .select(
            F.col("p.query_id").alias("query_id"),
            F.col("__id").alias("neighbor_id"),
            F.col("p.approx_dist").alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank > 0 else k))
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )
    if rerank <= 0:
        return adc
    # shortlist fetch: queries x rerank rows — broadcast the SHORTLIST so
    # the corpus streams through one BroadcastHashJoin (never shuffled by
    # neighbor id); query vectors attach as literals (metadata), built as
    # ONE SQL string (hundreds of F.lit py4j round trips measured as the
    # dominant driver cost of this operator's first form).
    def _sql_val(v):
        return f"'{str(v).replace(chr(39), chr(39) * 2)}'" if isinstance(v, str) else str(v)

    branches = " ".join(
        f"WHEN query_id = {_sql_val(qid)} THEN "
        f"array({', '.join(f'{float(x)!r}D' for x in qv)})"
        for qid, qv in queries
    )
    qv_expr = F.expr(f"CASE {branches} END")
    cand = (
        e.join(
            F.broadcast(adc.select("query_id", "neighbor_id")),
            F.col("__id") == F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(dist(qv_expr, F.col("__v")), 6).alias("exact_dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "exact_dist", "rank")
    )
