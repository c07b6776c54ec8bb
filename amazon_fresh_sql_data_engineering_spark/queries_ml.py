"""Round-3 session additions: data-quality expectations, order/priority
sampling, monitoring-style anomaly detection, and a corpus language-model
quality score.

Same contract as every other query module: each entry is registered with a
DuckDB oracle that REPLAYS the identical algorithm (same hash-derived
uniforms, same unioned defect universe, same rounded-value thresholds), so
parity holds at any scale factor.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from . import fence
from .functions.arrow import arrow_udf
from .operators import expectations as X
from .registry import CATALOG, register
from .registry import tables as _t

# ---------------------------------------------------------------------------
# q_expectations — declarative data-quality gate (operators/expectations.py)
# ---------------------------------------------------------------------------

# Defect universe: the driver's orders table is clean (its generator enforces
# the very rules we want to demonstrate), so both engines union in the same
# deterministic corruption — every 100th order re-appears with a NULL
# custkey, negative total, and unknown status. The duplicate key also trips
# the uniqueness rule; the lineitem FK check stays genuinely green so the
# report carries passing AND failing rows.
_BAD_ORDERS_SQL = """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        UNION ALL
        SELECT o_orderkey, NULL, 'X', -1.0, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 100 = 0
"""


@register(
    "q_expectations",
    oracle=f"""
        WITH u AS ({_BAD_ORDERS_SQL}),
        s AS (
            SELECT count(*) AS n,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
                   sum(CASE WHEN NOT (o_totalprice BETWEEN 0 AND 1000000)
                            THEN 1 ELSE 0 END) AS v_range,
                   sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                            THEN 1 ELSE 0 END) AS v_set,
                   sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                            THEN 1 ELSE 0 END) AS v_regex,
                   count(*) - count(DISTINCT o_orderkey) AS v_uniq
            FROM u
        ),
        fk AS (
            SELECT (SELECT count(*) FROM lineitem) AS n,
                   (SELECT count(*)
                    FROM lineitem l
                    LEFT JOIN (SELECT DISTINCT o_orderkey FROM u) o
                      ON l.l_orderkey = o.o_orderkey
                    WHERE l.l_orderkey IS NOT NULL
                      AND o.o_orderkey IS NULL) AS v
        )
        SELECT rule, table_name, n_checked,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0 AS pass
        FROM (
            SELECT 'not_null(o_custkey)' AS rule, 'orders' AS table_name,
                   n AS n_checked, v_null AS n_violations FROM s
            UNION ALL
            SELECT 'in_range(o_totalprice)', 'orders', n, v_range FROM s
            UNION ALL
            SELECT 'in_set(o_orderstatus)', 'orders', n, v_set FROM s
            UNION ALL
            SELECT 'matches(o_orderpriority)', 'orders', n, v_regex FROM s
            UNION ALL
            SELECT 'unique(o_orderkey)', 'orders', n, v_uniq FROM s
            UNION ALL
            SELECT 'foreign_key(lineitem.l_orderkey)', 'lineitem', n, v FROM fk
        )
    """,
    doc="Declarative data-quality expectations (operators/expectations.py) "
    "— the reference's hand-run validation SQL (per-column NULL probes, "
    "bad-value counts, orphan lookups before trusting an import) as ONE "
    "engine feature: five row/uniqueness rules compile into a single "
    "conditional-aggregation scan (map-side partials, one thin exchange), "
    "the FK rule is one anti-join, and everything lands in one "
    "(rule, table, n_checked, n_violations, pass) report a scheduler can "
    "gate a publish on. Deterministic defect universe unioned in by both "
    "engines so failing AND passing rows are exercised.",
)
def q_expectations(spark, sf_dir):
    o, li = _t(spark, sf_dir, "orders", "lineitem")
    bad = (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_custkey", F.lit(None).cast("bigint"))
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.lit(-1.0))
    )
    u = o.unionByName(bad)
    report = X.run_expectations(
        u,
        "orders",
        [
            X.not_null("o_custkey"),
            X.in_range("o_totalprice", 0, 1_000_000),
            X.in_set("o_orderstatus", ["O", "F", "P"]),
            X.matches("o_orderpriority", "^[1-5]-"),
            X.unique("o_orderkey"),
        ],
    ).unionByName(
        X.check_foreign_key(li, "lineitem", "l_orderkey", u, "o_orderkey")
    )
    return X.finalize(report)


# ---------------------------------------------------------------------------
# op_weighted_sample — sequential Poisson (order) sampling, k=100 ∝ price
# ---------------------------------------------------------------------------


@register(
    "op_weighted_sample",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               round(p, 10) AS priority
        FROM (
            SELECT o_orderkey, o_totalprice,
                   ((CAST(('0x' || substr(md5('ws' || CAST(o_orderkey AS VARCHAR)), 1, 8))
                          AS BIGINT) + 1) / 4294967296.0) / o_totalprice AS p
            FROM orders
        )
        ORDER BY p, o_orderkey
        LIMIT 100
    """,
    doc="Weighted sampling without replacement via sequential Poisson / "
    "order sampling (Ohlsson 1998; the u/w-priority member of the "
    "Efraimidis–Spirakis order-sampling family, chosen because its key is "
    "ONE IEEE division — bit-identical across engines, where ln/pow keys "
    "drift in the last ulp): u = md5-derived 32-bit uniform (never rand(): "
    "stable across reruns and repartitioning), priority = u / weight, take "
    "the k smallest with an id tiebreak. Inclusion probability ≈ "
    "proportional to o_totalprice. Plan: pure map expression + "
    "TakeOrderedAndProject — per-partition top-k then a k-row merge on the "
    "driver, no full sort, no shuffle of the table.",
)
def op_weighted_sample(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws"), F.col("o_orderkey").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    priority = ((h + 1) / F.lit(4294967296.0)) / F.col("o_totalprice")
    return (
        o.select("o_orderkey", "o_totalprice", priority.alias("__p"))
        .orderBy("__p", "o_orderkey")
        .limit(100)
        .select(
            "o_orderkey", "o_totalprice", F.round("__p", 10).alias("priority")
        )
    )


# ---------------------------------------------------------------------------
# events_anomaly — rolling-window z-score spike detection on hourly counts
# ---------------------------------------------------------------------------


@register(
    "events_anomaly",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, hour, n_events,
                   count(*) OVER w AS n_prev,
                   round((n_events - avg(n_events) OVER w)
                         / NULLIF(stddev_samp(n_events) OVER w, 0), 4) AS z
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hour, n_events, n_prev, z,
               coalesce(abs(z) >= 2.5, false) AS is_anomaly
        FROM scored WHERE n_prev >= 12
    """,
    doc="Operational anomaly detection over the event stream's hourly "
    "counts: per-type rolling mean/stddev over the trailing 24 present "
    "hours (ROWS frame), z-score on the ROUNDED value so both engines "
    "agree at the |z| >= 2.5 threshold; warm-up hours (fewer than 12 "
    "trailing points) are excluded, zero-variance windows yield NULL z "
    "and anomaly=false. Scale shape: the raw stream collapses to "
    "(type, hour) grain map-side before any shuffle; the window "
    "partitions by event_type over HOURLY rows (≤ 8.8k rows/type/year), "
    "so state per partition stays trivially bounded no matter how many "
    "raw events feed an hour — the batch twin of a streaming monitor.",
)
def events_anomaly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.count("n_events").over(w).alias("n_prev"),
        F.round(
            (F.col("n_events") - F.avg("n_events").over(w))
            / F.nullif(F.stddev_samp("n_events").over(w), F.lit(0.0)),
            4,
        ).alias("z"),
    )
    return scored.filter(F.col("n_prev") >= 12).select(
        "event_type",
        "hour",
        "n_events",
        "n_prev",
        "z",
        F.coalesce(F.abs(F.col("z")) >= 2.5, F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# text_char_lm_score — corpus character-bigram LM as a quality signal
# ---------------------------------------------------------------------------

_LM_KEEP_THRESHOLD = 7.5


@register(
    "text_char_lm_score",
    oracle=f"""
        WITH scored_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 4000000, regexp_replace(text, '[aeiou]', 'x', 'g')
            FROM documents WHERE doc_id % 25 = 0
        ),
        doc_counts AS (
            SELECT doc_id, g, count(*) AS c_doc
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, length(text)),
                                             i -> substr(text, CAST(i AS INT), 2))) AS g
                FROM scored_docs WHERE length(text) >= 2
            )
            GROUP BY 1, 2
        ),
        model AS (
            SELECT g, count(*) AS c
            FROM (
                SELECT unnest(list_transform(range(1, length(text)),
                                             i -> substr(text, CAST(i AS INT), 2))) AS g
                FROM documents WHERE length(text) >= 2
            )
            GROUP BY 1
        ),
        consts AS (
            SELECT CAST(sum(c) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v
            FROM model
        )
        SELECT doc_id,
               CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
               round(sum(c_doc * -log2((coalesce(c, 0) + 1) / (t + v + 1)))
                     / sum(c_doc), 4) AS bits_per_gram,
               round(sum(c_doc * -log2((coalesce(c, 0) + 1) / (t + v + 1)))
                     / sum(c_doc), 4) <= {_LM_KEEP_THRESHOLD} AS keep
        FROM doc_counts LEFT JOIN model USING (g) CROSS JOIN consts
        GROUP BY doc_id
    """,
    doc="Perplexity-proxy quality score — the CCNet shape, self-contained "
    "with a character-bigram model: train the LM on the CLEAN corpus "
    "(documents), score clean + injected junk (every 25th doc with vowels "
    "struck — the out-of-distribution true positives both engines build "
    "identically), add-one smoothing over the model vocab so OOV bigrams "
    "get a finite penalty instead of -inf. Score = average -log2 p in "
    "bits per bigram (low = predictable text, high = junk); keep decided "
    "on the ROUNDED score so engines agree at the threshold (clean sits "
    "~6.5-6.9, junk ~8+). Scale shape: bigram explode collapses to "
    "(doc, gram) counts map-side; the model is |charset|^2 rows — "
    "broadcast back against the per-doc counts, so the corpus-sized side "
    "sees narrow ops and ONE keyed aggregation only.",
)
def text_char_lm_score(spark, sf_dir):
    # r11 opt (guide §4.2 + §2.3): the r9-r10 form exploded character
    # bigrams through an interpreted transform(sequence, substring) lambda
    # — thousands of per-character closure calls per document — and
    # shuffled the RAW bigram stream into groupBy(doc_id, g). One Arrow
    # UDF emits each document's bigram COUNT MAP instead (identical
    # values: substring-by-codepoint == Python slicing), so the per-doc
    # aggregation happens inside the map pass and only
    # (doc, distinct-bigram, count) rows ever reach an exchange.
    @arrow_udf("map<string,long>")
    def _bigram_counts(texts: pd.Series) -> pd.Series:
        from collections import Counter

        out = []
        for t in texts:
            if not t or len(t) < 2:
                out.append(None)
                continue
            out.append(dict(Counter(map("".join, zip(t, t[1:])))))
        return pd.Series(out)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", F.lit(True).alias("is_base"))
    junk = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.regexp_replace("text", "[aeiou]", "x").alias("text"),
        F.lit(False).alias("is_base"),
    )
    # one bigram-count map per scored doc, fenced: the model is summed from
    # the base rows of the same frame, so each text crosses into Python once
    doc_maps = fence.persist(
        d.unionByName(junk)
        .filter(F.length("text") >= 2)
        .select("doc_id", "is_base", _bigram_counts(F.col("text")).alias("m"))
    )
    doc_counts = doc_maps.select("doc_id", F.explode("m").alias("g", "c_doc"))
    model = (
        doc_maps.filter("is_base")
        .select(F.explode("m").alias("g", "c_doc"))
        .groupBy("g")
        .agg(F.sum("c_doc").alias("c"))
    )
    consts = model.agg(
        F.sum("c").cast("double").alias("t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    smoothed_p = (F.coalesce(F.col("c"), F.lit(0)) + 1) / (
        F.col("t") + F.col("v") + 1
    )
    score = F.round(
        F.sum(F.col("c_doc") * -F.log2(smoothed_p)) / F.sum("c_doc"), 4
    )
    return (
        doc_counts.join(F.broadcast(model), "g", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").cast("bigint").alias("n_bigrams"),
            score.alias("bits_per_gram"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "bits_per_gram",
            (F.col("bits_per_gram") <= _LM_KEEP_THRESHOLD).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# op_pagerank — weighted link analysis over the nation trade graph
# ---------------------------------------------------------------------------


@register(
    "op_pagerank",
    oracle="""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        k AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        ow AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY 1),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r FROM nodes, k),
        c1 AS (
            SELECT e.dst, sum(r0.r * (e.w / ow.w_out)) AS s
            FROM edges e JOIN ow ON e.src = ow.src
            JOIN r0 ON e.src = r0.node
            GROUP BY 1
        ),
        r1 AS (
            SELECT node,
                   round(CAST(0.15 AS DOUBLE) / n
                         + CAST(0.85 AS DOUBLE) * coalesce(s, 0), 8) AS r
            FROM nodes CROSS JOIN k LEFT JOIN c1 ON node = c1.dst
        ),
        c2 AS (
            SELECT e.dst, sum(r1.r * (e.w / ow.w_out)) AS s
            FROM edges e JOIN ow ON e.src = ow.src
            JOIN r1 ON e.src = r1.node
            GROUP BY 1
        ),
        r2 AS (
            SELECT node,
                   round(CAST(0.15 AS DOUBLE) / n
                         + CAST(0.85 AS DOUBLE) * coalesce(s, 0), 8) AS r
            FROM nodes CROSS JOIN k LEFT JOIN c2 ON node = c2.dst
        )
        SELECT node, round(r, 6) AS rank FROM r2
    """,
    doc="Weighted PageRank (operators/graph.py), two synchronous "
    "iterations over the customer-nation -> supplier-nation trade graph "
    "(edge weight = lineitem count): which markets the flow of goods "
    "concentrates on. Joins-and-aggregates formulation — per iteration "
    "one src-keyed shuffle and one combiner-collapsed dst aggregation; "
    "edges never leave the cluster, the only driver action is the "
    "node-count scalar. Ranks ROUNDED to 8 dp between iterations so both "
    "engines feed identical values forward (op_kmeans_refine discipline); "
    "damping constants enter as DOUBLE literals on both sides (0.15, "
    "never Python's 1-0.85). Leaky formulation: dangling mass is not "
    "redistributed, documented in the operator.",
)
def op_pagerank(spark, sf_dir):
    from .operators.graph import pagerank

    li, o, c, s, n = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == cn["c_nk"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == sn["s_nk"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = pagerank(edges, iterations=2)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# dedup_semantic — SemDeDup: cluster-then-pairwise embedding dedup
# ---------------------------------------------------------------------------

_SD_K = 8
_SD_THRESHOLD = 0.95

_SD_L2 = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(e.v) + 1),
                              i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))),
               (acc, x) -> acc + x)"""


def _sd_fold(expr_a: str, expr_b: str) -> str:
    return f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(a.v) + 1),
                              i -> {expr_a}[i] * {expr_b}[i])),
               (acc, x) -> acc + x)"""


@register(
    "dedup_semantic",
    oracle=f"""
        WITH all_e AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000, embedding
            FROM embeddings WHERE vec_id % 25 = 0
        ),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM all_e),
        c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_SD_K}),
        d1 AS (SELECT e.vec_id, c0.cid, {_SD_L2} AS dist FROM e, c0),
        a1 AS (
            SELECT d1.vec_id, min(d1.cid) AS cid FROM d1
            JOIN (SELECT vec_id, min(dist) AS md FROM d1 GROUP BY vec_id) m
              ON d1.vec_id = m.vec_id AND d1.dist = m.md
            GROUP BY d1.vec_id
        ),
        av AS (SELECT a1.vec_id, a1.cid, e.v FROM a1 JOIN e USING (vec_id)),
        drops AS (
            SELECT DISTINCT b.vec_id
            FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE {_sd_fold("a.v", "b.v")}
                  / (sqrt({_sd_fold("a.v", "a.v")})
                     * sqrt({_sd_fold("b.v", "b.v")}))
                  >= CAST({_SD_THRESHOLD} AS DOUBLE)
        )
        SELECT av.vec_id, av.cid, d.vec_id IS NULL AS keep
        FROM av LEFT JOIN drops d ON av.vec_id = d.vec_id
    """,
    doc=f"SemDeDup (Abbas et al. 2023): k-means-style cluster assignment "
    f"(k={_SD_K}, deterministic lowest-id init, broadcast centroids, "
    "sequential-fold L2 with min-cid ties — op_kmeans_refine's assign "
    "step) bounds the search space, then exact-cosine pairwise WITHIN "
    "each cluster drops every vector that has a smaller-id neighbor at "
    ">= 0.95. This is the scale story for embedding dedup when sign-LSH "
    "recall isn't wanted: at 100 TB, k grows with the corpus so cluster "
    "size (and the per-cluster quadratic) stays bounded — the pairwise "
    "join is keyed on cid and never crosses clusters. Exact duplicates "
    "synthesized (vec_id%25) land in the same cluster by determinism of "
    "the assignment, so true positives exist at every sf. Oracle replays "
    "assignment AND pairwise with the same sequential folds.",
)
def dedup_semantic(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    copies = e.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    emb = (
        e.unionByName(copies)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    cents = emb.filter(F.col("vec_id") < _SD_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    dist = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = fence.persist(
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cid", dist.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid", "v")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"), F.col("b.v").alias("v"))
    )

    def fold(va, vb):
        return F.aggregate(
            F.zip_with(va, vb, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    a = assigned.select(
        "cid", F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        "cid", F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    cos = fold(F.col("va"), F.col("vb")) / (
        F.sqrt(fold(F.col("va"), F.col("va")))
        * F.sqrt(fold(F.col("vb"), F.col("vb")))
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= F.lit(_SD_THRESHOLD))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# op_bm25_search — full-text relevance ranking over the documents table
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]


@register(
    "op_bm25_search",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents WHERE trim(coalesce(text, '')) <> ''
        ),
        dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS len FROM toks GROUP BY 1),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
            FROM dl
        ),
        tf AS (
            SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
            FROM toks WHERE tok IN ('spark', 'join', 'window')
            GROUP BY 1, 2
        ),
        df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   sum(ln((n - df + 0.5) / (df + 0.5) + 1)
                       * (tf / (tf + CAST(1.2 AS DOUBLE)
                                * (CAST(0.25 AS DOUBLE)
                                   + CAST(0.75 AS DOUBLE) * (len / avgdl)))))
                       AS score
            FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
            GROUP BY 1
        )
        SELECT doc_id, round(score, 4) AS bm25
        FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 20
    """,
    doc="BM25 ranked retrieval (Robertson/Sparck-Jones; the Lucene "
    "log(1 + (N-df+0.5)/(df+0.5)) idf so scores stay positive when "
    "df > N/2, k1=1.2, b=0.75) for a 3-term query over the documents "
    "table — the relevance-search sibling of text_tfidf_top_terms. "
    "Scale shape: token explode collapses to (doc, term) counts "
    "map-side and ONLY query terms survive the filter; df is "
    "|terms| rows and the length/avgdl stats one row — both broadcast "
    "back; top-20 via TakeOrderedAndProject (per-partition heads, k-row "
    "driver merge, no global sort). Constants enter as DOUBLE literals "
    "on both engines; ordering is on the ROUNDED score with doc_id "
    "tiebreak so both engines cut the same top-k.",
)
def op_bm25_search(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.filter(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("len").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("len") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") / denom)).alias("score"))
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# op_time_weighted_avg — duration-weighted mean of an irregular time series
# ---------------------------------------------------------------------------


@register(
    "op_time_weighted_avg",
    oracle="""
        WITH stepped AS (
            SELECT user_id, value,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                   - epoch_us(ts) AS dt_us
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(dt_us) AS BIGINT) AS span_us,
               round(sum(value * CAST(dt_us AS DOUBLE))
                     / CAST(sum(dt_us) AS DOUBLE), 4) AS twa_value
        FROM stepped WHERE dt_us IS NOT NULL
        GROUP BY user_id HAVING sum(dt_us) > 0
    """,
    doc="Time-weighted average (the TimescaleDB/kdb 'time_weight' "
    "operator): each observation of an IRREGULAR series holds until the "
    "next one, so the mean weights every value by its holding duration "
    "(last-observation-carried-forward integral / elapsed time) — the "
    "correct aggregate for sensor/price/gauge streams where plain avg() "
    "over-counts bursts. Durations computed on exact integer "
    "microseconds (unix_micros/epoch_us — identical across engines), "
    "(ts, event_id) ordering so timestamp ties are deterministic. Scale "
    "shape: ONE per-user window pass for lead + one combiner-collapsed "
    "aggregation; partitions by user, never a global sort.",
)
def op_time_weighted_avg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    stepped = e.select(
        "user_id", "value", (F.lead(us).over(w) - us).alias("dt_us")
    )
    return (
        stepped.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("dt_us").cast("bigint").alias("span_us"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us").cast("double"))
                / F.sum("dt_us").cast("double"),
                4,
            ).alias("twa_value"),
        )
        .filter(F.col("span_us") > 0)
    )


# ---------------------------------------------------------------------------
# events_sliding_distinct — 24h sliding distinct users (shifted-copy rewrite)
# ---------------------------------------------------------------------------


@register(
    "events_sliding_distinct",
    oracle="""
        WITH presence AS (
            SELECT DISTINCT event_type, user_id,
                   date_trunc('hour', ts) AS hour
            FROM events
        ),
        observed AS (SELECT DISTINCT event_type, hour FROM presence),
        contrib AS (
            SELECT event_type, user_id,
                   hour + u.i * INTERVAL 1 HOUR AS target
            FROM presence, unnest(range(0, 24)) u(i)
        )
        SELECT c.event_type, c.target AS hour,
               CAST(count(DISTINCT c.user_id) AS BIGINT) AS distinct_users
        FROM contrib c
        JOIN observed o
          ON c.event_type = o.event_type AND c.target = o.hour
        GROUP BY 1, 2
    """,
    doc="Sliding-window COUNT(DISTINCT): distinct users per event type "
    "over the trailing 24 hours, at every observed hour. SQL window "
    "frames cannot express DISTINCT, so this is the shifted-copy "
    "rewrite: collapse the stream to (type, user, hour) presence "
    "(map-side, the big win — each user contributes one row per hour "
    "regardless of event volume), fan each presence row out to the 24 "
    "target hours it covers, and count distinct per target — the final "
    "distinct aggregation dedups the shifted copies itself, so the "
    "fanned rows take exactly ONE shuffle. "
    "Work scales with presence x (window/step), NOT events x window — "
    "the standard trade for exact sliding distinct at scale; swap the "
    "final count_distinct for approx_count_distinct when the user set "
    "per window stops fitting a shuffle partition.",
)
def events_sliding_distinct(spark, sf_dir):
    # r11 opt (guide §2.3 "aggregate before you shuffle"): collect each
    # (type, user)'s present hours into one array (one shuffle of
    # PRESENCE-sized rows) and expand to covered target hours ROW-LOCALLY
    # with in-array dedup, so each user contributes each target at most
    # once: the final count is a PLAIN count whose map-side partial
    # aggregation collapses the fanned rows before the exchange, and the
    # user id never rides the fanned shuffle (the r6-r10 form shuffled the
    # whole fanned stream into a two-round count_distinct). The NULL-user
    # filter replicates count_distinct's NULL exclusion; the LEFT join from
    # the observed hours with a coalesce to 0 keeps an observed (type, hour)
    # covered only by NULL-user events, as the oracle's count(DISTINCT) does.
    e = _t(spark, sf_dir, "events")
    hours_per_user = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            "event_type", "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .groupBy("event_type", "user_id")
        .agg(F.collect_set("hour").alias("hrs"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                "hrs",
                lambda h: F.sequence(
                    h,
                    h + F.expr("INTERVAL 23 HOURS"),
                    F.expr("INTERVAL 1 HOUR"),
                ),
            )
        )
    )
    counts = (
        hours_per_user.select("event_type", F.explode(covered).alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # NULL keys never satisfy the oracle's equi-join: drop them up front
    observed = (
        e.select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .dropna()
        .distinct()
    )
    return observed.join(counts, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("distinct_users"),
    )


# ---------------------------------------------------------------------------
# CDC: changelog -> snapshot (log compaction) and snapshot -> changelog
# ---------------------------------------------------------------------------


@register(
    "op_cdc_apply",
    oracle="""
        WITH log AS (
            SELECT 'I' AS op, o_orderkey, o_orderstatus, o_totalprice,
                   1 AS seq
            FROM orders
            UNION ALL
            SELECT 'U', o_orderkey, o_orderstatus, o_totalprice + 10.0, 2
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT 'D', o_orderkey, NULL, NULL, 3
            FROM orders WHERE o_orderkey % 100 = 0
        ),
        latest AS (
            SELECT * FROM (
                SELECT log.*,
                       row_number() OVER (PARTITION BY o_orderkey
                                          ORDER BY seq DESC) AS rn
                FROM log
            ) WHERE rn = 1
        )
        SELECT o_orderkey, o_orderstatus, o_totalprice, seq
        FROM latest WHERE op <> 'D'
    """,
    doc="CDC log compaction (operators/cdc.changelog_apply): materialize "
    "current state from an ordered I/U/D changelog — highest sequence "
    "number per key wins, keys whose last event is a delete disappear. "
    "Both engines synthesize the same feed from orders (insert all, "
    "update every 10th with +10 price, delete every 100th). ONE "
    "key-partitioned window pass (the dedup-keep-latest idiom): no "
    "global sort, no join — the MERGE-free way to consume a Debezium/"
    "binlog feed into a 100 TB table, and the compaction step a "
    "versioned-table writer runs before publishing a snapshot.",
)
def op_cdc_apply(spark, sf_dir):
    from .operators.cdc import changelog_apply

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.lit("I").alias("op"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).alias("seq"),
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.lit(2).alias("seq"),
    )
    dele = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.lit("D").alias("op"),
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(3).alias("seq"),
    )
    log = base.unionByName(upd).unionByName(dele)
    return changelog_apply(log, ["o_orderkey"], "seq")


_NEW_SNAPSHOT_SQL = """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 100 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 50 = 0
"""


@register(
    "op_snapshot_diff",
    oracle=f"""
        WITH old_s AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        new_s AS ({_NEW_SNAPSHOT_SQL}),
        j AS (
            SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   o.o_orderkey IS NOT NULL AS in_old,
                   n.o_orderkey IS NOT NULL AS in_new,
                   o.o_orderstatus AS old_o_orderstatus,
                   o.o_totalprice AS old_o_totalprice,
                   n.o_orderstatus AS new_o_orderstatus,
                   n.o_totalprice AS new_o_totalprice
            FROM old_s o FULL JOIN new_s n ON o.o_orderkey = n.o_orderkey
        )
        SELECT op, o_orderkey, old_o_orderstatus, old_o_totalprice,
               new_o_orderstatus, new_o_totalprice
        FROM (
            SELECT CASE WHEN NOT in_old THEN 'I'
                        WHEN NOT in_new THEN 'D'
                        WHEN (old_o_orderstatus IS DISTINCT FROM new_o_orderstatus)
                          OR (old_o_totalprice IS DISTINCT FROM new_o_totalprice)
                        THEN 'U' END AS op,
                   j.* FROM j
        ) WHERE op IS NOT NULL
    """,
    doc="Snapshot differencing (operators/cdc.snapshot_diff): recover the "
    "minimal I/U/D changelog between two published table versions — what "
    "an incremental consumer reads when the writer didn't emit a CDC "
    "feed, and the inverse of op_cdc_apply (round-trip asserted in "
    "tests/test_cdc.py). ONE full-outer key join + null-safe column "
    "comparison; unchanged rows never leave the join. Both engines "
    "derive the same new snapshot from orders (every 100th deleted, "
    "every 10th repriced, every 50th re-inserted under a new key).",
)
def op_snapshot_diff(spark, sf_dir):
    from .operators.cdc import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        o.filter(F.col("o_orderkey") % 100 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + F.lit(10.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 50 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


# ---------------------------------------------------------------------------
# q_masked_view — column masking + row-level security (operators/governance)
# ---------------------------------------------------------------------------


@register(
    "q_masked_view",
    oracle="""
        SELECT c_custkey,
               sha256('gv1' || c_name) AS c_name,
               CASE WHEN length(c_name) <= 3 THEN c_name
                    ELSE repeat('*', length(c_name) - 3)
                         || substr(c_name, length(c_name) - 2, 3) END
                   AS name_display,
               floor(c_acctbal / 1000.0) * 1000.0 AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE c_acctbal >= 0
    """,
    doc="Governance view (operators/governance.py): salted-SHA-256 "
    "pseudonymization of the name (deterministic, so masked joins still "
    "line up across tables), a trailing-3 partial-mask display form, "
    "k-anonymity bucketing of the balance to 1000-wide bins, column drop "
    "of the nation quasi-identifier, and row-level security hiding "
    "negative-balance accounts. Everything is ONE narrow select over the "
    "scan — masking costs zero shuffles, and the RLS predicate pushes "
    "into the parquet scan like any other filter (plan-asserted).",
)
def q_masked_view(spark, sf_dir):
    from .operators import governance as G

    c = _t(spark, sf_dir, "customer")
    with_display = c.withColumn("name_display", G.partial_mask("c_name", keep=3))
    masked = G.apply_policy(
        with_display,
        masks={
            "c_name": G.hash_mask("c_name", "gv1"),
            "c_acctbal": G.bucket_mask("c_acctbal", 1000.0),
        },
        row_policy=F.col("c_acctbal") >= 0,
        drop=["c_nationkey"],
    )
    return masked.select(
        "c_custkey", "c_name", "name_display", "c_acctbal", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# events_sliding_distinct_hll — the sketch-merge tier of sliding distinct
# ---------------------------------------------------------------------------


@register(
    "events_sliding_distinct_hll",
    # Datasketches blobs are engine-specific, so the checked output is the
    # exact counts + a ±10% envelope computed INDEPENDENTLY on both sides
    # with integer arithmetic, plus the in-envelope boolean (the oracle's
    # TRUE literal fails the hash the moment any window's estimate lands
    # outside its cross-checked bounds). lgConfigK=14 is ~0.8% rse — 10%
    # is a >10-sigma envelope, per window, over every window.
    oracle="""
        WITH presence AS (
            SELECT DISTINCT event_type, user_id,
                   date_trunc('hour', ts) AS hour
            FROM events
        ),
        observed AS (SELECT DISTINCT event_type, hour FROM presence),
        contrib AS (
            SELECT event_type, user_id,
                   hour + u.i * INTERVAL 1 HOUR AS target
            FROM presence, unnest(range(0, 24)) u(i)
        ),
        exact AS (
            SELECT c.event_type, c.target AS hour,
                   CAST(count(DISTINCT c.user_id) AS BIGINT) AS exact_users
            FROM contrib c
            JOIN observed o
              ON c.event_type = o.event_type AND c.target = o.hour
            GROUP BY 1, 2
        )
        SELECT event_type, hour, exact_users,
               (exact_users * 9) // 10 AS lo,
               (exact_users * 11 + 9) // 10 AS hi,
               true AS within_10pct
        FROM exact
    """,
    doc="Sliding distinct users, SKETCH-MERGE tier (the 100 TB form of "
    "events_sliding_distinct): one HLL Datasketch per (type, hour) — "
    "built in a single pass over the raw stream — then the 24-hour "
    "window is answered by UNIONING 24 mergeable sketches per target "
    "hour. The shifted-copy fanout now carries ONE fixed-size sketch "
    "blob per source hour instead of every distinct user: window state "
    "is O(types x hours x 16KB) regardless of user cardinality, which "
    "is what makes trailing-distinct dashboards feasible when the exact "
    "rewrite's presence table stops fitting. Checked against the exact "
    "rewrite row-by-row through the independently-computed ±10% "
    "envelope (estimate is ~0.8% rse at lgConfigK=14).",
)
def events_sliding_distinct_hll(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly_sk = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    observed = hourly_sk.select(
        F.col("event_type").alias("o_type"), F.col("hour").alias("o_hour")
    )
    fanned = hourly_sk.select(
        "event_type",
        "sk",
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("i"),
        "hour",
    ).select(
        "event_type", "sk", F.expr("timestampadd(HOUR, i, hour)").alias("target")
    )
    est = (
        fanned.join(
            observed,
            (F.col("event_type") == F.col("o_type"))
            & (F.col("target") == F.col("o_hour")),
        )
        .groupBy("event_type", F.col("target").alias("hour"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        )
    )
    exact = CATALOG["events_sliding_distinct"].fn(spark, sf_dir).select(
        "event_type", "hour", F.col("distinct_users").alias("exact_users")
    )
    return exact.join(est, ["event_type", "hour"]).select(
        "event_type",
        "hour",
        "exact_users",
        F.expr("(exact_users * 9) div 10").alias("lo"),
        F.expr("(exact_users * 11 + 9) div 10").alias("hi"),
        F.col("approx_users")
        .between(F.expr("(exact_users * 9) div 10"), F.expr("(exact_users * 11 + 9) div 10"))
        .alias("within_10pct"),
    )


# ---------------------------------------------------------------------------
# op_triangle_count — degree-oriented triangle counting (operators/graph.py)
# ---------------------------------------------------------------------------

_TRADE_EDGES_SQL = """
        SELECT least(cn.n_name, sn.n_name) AS a,
               greatest(cn.n_name, sn.n_name) AS b,
               count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY 1, 2
"""


@register(
    "op_triangle_count",
    oracle=f"""
        WITH und0 AS ({_TRADE_EDGES_SQL}),
        aw AS (SELECT avg(w) AS aw FROM und0),
        und AS (SELECT a, b FROM und0, aw WHERE w > aw),
        deg AS (
            SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM und UNION ALL SELECT b FROM und
            ) GROUP BY 1
        ),
        wd AS (
            SELECT und.a, und.b, da.deg AS deg_a, db.deg AS deg_b
            FROM und JOIN deg da ON und.a = da.node
                     JOIN deg db ON und.b = db.node
        ),
        oriented AS (
            SELECT a AS u, b AS v, deg_b AS dv FROM wd
            WHERE deg_a < deg_b OR (deg_a = deg_b AND a < b)
            UNION ALL
            SELECT b AS u, a AS v, deg_a AS dv FROM wd
            WHERE NOT (deg_a < deg_b OR (deg_a = deg_b AND a < b))
        ),
        wedges AS (
            SELECT e1.u, e1.v, e2.v AS w
            FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
            WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)
        ),
        tris AS (
            SELECT wg.u, wg.v, wg.w
            FROM wedges wg JOIN oriented c ON wg.v = c.u AND wg.w = c.v
        )
        SELECT node, count(*) AS triangles FROM (
            SELECT u AS node FROM tris
            UNION ALL SELECT v FROM tris
            UNION ALL SELECT w FROM tris
        ) GROUP BY 1
    """,
    doc="Per-node triangle counts (operators/graph.py triangle_count) over "
    "the undirected nation trade graph, thinned to above-average-weight "
    "edges so the graph keeps real structure at every sf (the avg scalar "
    "is computed in-plan and broadcast — no collect). Degree-ordered "
    "orientation bounds wedge enumeration by the O(sqrt(m)) effective "
    "out-degree — the standard hub-proof O(m^1.5) formulation, so the "
    "same plan survives a 100 TB edge list; every step is an equi-join "
    "on a node id. Counts are exact integers — no rounding contract "
    "needed. Graph analytics sibling of op_pagerank and "
    "dedup_cluster_corpus.",
)
def op_triangle_count(spark, sf_dir):
    from .operators.graph import triangle_count

    li, o, c, s, n = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cnm"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("snm"))
    # feeds both the avg scalar and the thinned edge list; checkpoint
    # (not persist) so the fence keeps AQE-sized partitions — see
    # operators/graph.py triangle_count
    und0 = fence.checkpoint(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == cn["c_nk"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == sn["s_nk"])
        .where(F.col("cnm") != F.col("snm"))
        .groupBy(
            F.least("cnm", "snm").alias("a"), F.greatest("cnm", "snm").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    aw = und0.agg(F.avg("w").alias("aw"))
    kept = (
        und0.crossJoin(F.broadcast(aw))
        .where(F.col("w") > F.col("aw"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return triangle_count(kept)


# ---------------------------------------------------------------------------
# op_interpolate_gaps — dense-spine linear interpolation of a sparse series
# ---------------------------------------------------------------------------


@register(
    "op_interpolate_gaps",
    oracle="""
        WITH h AS (
            SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
            FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2
        ),
        b AS (
            SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM h GROUP BY 1
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM b
        ),
        j AS (
            SELECT s.event_type, s.hour, h.c
            FROM spine s LEFT JOIN h
              ON s.event_type = h.event_type AND s.hour = h.hr
        ),
        x AS (
            SELECT event_type, hour, c,
                   last_value(c IGNORE NULLS) OVER wp AS pc,
                   last_value(CASE WHEN c IS NOT NULL THEN hour END
                              IGNORE NULLS) OVER wp AS ph,
                   first_value(c IGNORE NULLS) OVER wn AS nc,
                   first_value(CASE WHEN c IS NOT NULL THEN hour END
                               IGNORE NULLS) OVER wn AS nh
            FROM j
            WINDOW wp AS (PARTITION BY event_type ORDER BY hour
                          ROWS UNBOUNDED PRECEDING),
                   wn AS (PARTITION BY event_type ORDER BY hour
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, hour,
               CASE WHEN c IS NOT NULL THEN round(CAST(c AS DOUBLE), 6)
                    ELSE round(CAST(pc AS DOUBLE)
                               + (CAST(nc AS DOUBLE) - CAST(pc AS DOUBLE))
                                 * (CAST(date_diff('hour', ph, hour) AS DOUBLE)
                                    / CAST(date_diff('hour', ph, nh) AS DOUBLE)),
                               6)
               END AS n_filled,
               c IS NULL AS was_gap
        FROM x
    """,
    doc="Time-series gap repair: hourly counts of a sparse event subset "
    "(user_id % 50) are densified onto a per-type min..max hour spine "
    "(sequence/explode — generated, not joined from a calendar table) and "
    "gaps are LINEARLY interpolated between the bracketing observed "
    "hours via IGNORE NULLS window endpoints — the continuous sibling of "
    "op_forward_fill. Interpolation arithmetic is pinned engine-portable: "
    "integer hour offsets cast to DOUBLE, one division, one multiply, "
    "one add, rounded at 6. Spine endpoints are observed by "
    "construction, so the bracketing values never go NULL. Scale shape: "
    "one groupBy, a generated spine (|types| x span rows), two "
    "partitioned window passes — no self-joins.",
)
def op_interpolate_gaps(spark, sf_dir):
    e = _t(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    j = spine.join(
        hourly.select(
            "event_type", F.col("hr").alias("hour"), "c"
        ),
        ["event_type", "hour"],
        "left",
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    wn = w.rowsBetween(0, Window.unboundedFollowing)
    obs_hour = F.when(F.col("c").isNotNull(), F.col("hour"))
    pc = F.last("c", ignorenulls=True).over(wp).cast("double")
    ph = F.last(obs_hour, ignorenulls=True).over(wp)
    nc = F.first("c", ignorenulls=True).over(wn).cast("double")
    nh = F.first(obs_hour, ignorenulls=True).over(wn)
    frac = F.expr("CAST(timestampdiff(HOUR, __ph, hour) AS DOUBLE)") / F.expr(
        "CAST(timestampdiff(HOUR, __ph, __nh) AS DOUBLE)"
    )
    staged = j.select(
        "event_type",
        "hour",
        "c",
        pc.alias("__pc"),
        ph.alias("__ph"),
        nc.alias("__nc"),
        nh.alias("__nh"),
    )
    filled = F.when(
        F.col("c").isNotNull(), F.round(F.col("c").cast("double"), 6)
    ).otherwise(
        F.round(F.col("__pc") + (F.col("__nc") - F.col("__pc")) * frac, 6)
    )
    return staged.select(
        "event_type",
        "hour",
        filled.alias("n_filled"),
        F.col("c").isNull().alias("was_gap"),
    )
