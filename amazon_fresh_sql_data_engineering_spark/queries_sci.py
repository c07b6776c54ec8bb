"""Round-3 session additions, batch 11: nonparametric inference and
survival analysis — the hypothesis-testing layer a data team runs on top
of the A/B (op_ab_test_welch) and anomaly (events_anomaly) surfaces.

- ``op_mann_whitney`` — Mann-Whitney U rank-sum test (the nonparametric
  sibling of op_ab_test_welch) on a deterministic A/B split of orders,
  tie-corrected normal approximation, computed at the distinct-value
  grain so the rank pass never touches row-level data twice.
- ``op_ks_test`` — two-sample Kolmogorov-Smirnov D statistic comparing
  the same A/B split's spend distributions, ECDFs via the two-phase
  global cumulative sum (no single-partition sort).
- ``op_survival_km`` — Kaplan-Meier survival curve over customer
  purchase lifetimes with right-censoring at the observation horizon
  (churn / retention modelling primitive).

Engine-portability notes (the repo's hard-won rounding discipline):

- Ranks and ECDFs are INTEGER-DERIVED: average ranks sit on the exact
  0.5 grid, rank sums and ECDF ratios are single exactly-rounded IEEE
  ops on exact integers — bit-identical across engines UNROUNDED, and
  rounding them would ADD risk (decimal-grid half-way points round
  differently under Spark's shortest-string HALF_UP vs DuckDB's binary
  rounding). They ship unrounded.
- ``sqrt`` is IEEE-754 correctly rounded on both engines, so z / D-crit
  values built from exact inputs through a fixed op order are also
  deterministic unrounded. Both sides write the IDENTICAL expression
  shape (same association, same literal casts) to keep that true.
- The KM curve is the one genuinely libm-dependent output (``ln`` terms
  summed then ``exp``-ed): survival is ROUNDED to 6 dp, the same budget
  as text_char_lm_score's log outputs; everything feeding it is exact.
- Decimal literals enter as ``CAST(x AS DOUBLE)`` in the oracles (DuckDB
  parses bare decimals as DECIMAL — the round-1 failure class).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import fence
from .operators.ranking import global_cumsum
from .registry import fin, register
from .registry import tables as _t
from .sources.loaders import local_frame

# ---------------------------------------------------------------------------
# op_mann_whitney — tie-corrected Mann-Whitney U rank-sum test
# ---------------------------------------------------------------------------


@register(
    "op_mann_whitney",
    oracle="""
        WITH vals AS (
            SELECT o_totalprice AS v,
                   count(*) AS n,
                   sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS na
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT v, n, na,
                   sum(n) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n AS below
            FROM vals
        ),
        agg AS (
            SELECT sum(CAST(na AS DOUBLE)
                       * (CAST(below AS DOUBLE)
                          + CAST(n + 1 AS DOUBLE) / CAST(2 AS DOUBLE)))
                       AS r_a,
                   sum(na) AS n1,
                   sum(n - na) AS n2,
                   sum(n * n * n - n) AS ties
            FROM ranked
        )
        SELECT CAST(n1 AS BIGINT) AS n_a,
               CAST(n2 AS BIGINT) AS n_b,
               r_a - CAST(n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE) AS u_a,
               CAST(n1 * n2 AS DOUBLE)
                   - (r_a - CAST(n1 * (n1 + 1) AS DOUBLE)
                      / CAST(2 AS DOUBLE)) AS u_b,
               (r_a - CAST(n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE)
                - CAST(n1 * n2 AS DOUBLE) / CAST(2 AS DOUBLE))
               / sqrt((CAST(n1 * n2 AS DOUBLE) / CAST(12 AS DOUBLE))
                      * (CAST(n1 + n2 + 1 AS DOUBLE)
                         - CAST(ties AS DOUBLE)
                           / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))
                   AS z,
               CAST(1 AS DOUBLE)
                   - CAST(2 AS DOUBLE)
                     * (CAST(n1 * n2 AS DOUBLE)
                        - (r_a - CAST(n1 * (n1 + 1) AS DOUBLE)
                           / CAST(2 AS DOUBLE)))
                     / CAST(n1 * n2 AS DOUBLE) AS rank_biserial
        FROM agg
    """,
    doc="Mann-Whitney U rank-sum test on the deterministic A/B split "
    "(o_custkey parity) of order spend — the nonparametric sibling of "
    "op_ab_test_welch for distributions where the t-test's normality "
    "assumption fails. Computed at the DISTINCT-VALUE grain: average "
    "tie-ranks derive from a running count of values below (two-phase "
    "global_cumsum — no single-partition sort), so the row-level table "
    "is scanned exactly once and the rank pass runs over |distinct "
    "values| rows. Average ranks sit on the exact 0.5 grid and every "
    "downstream op (rank sum, U, tie-corrected variance, z via "
    "IEEE-correctly-rounded sqrt) is a fixed-order exactly-rounded "
    "chain on exact integers — shipped UNROUNDED, bit-identical across "
    "engines. Scale shape: one map-side-combined value-grain aggregate, "
    "one metadata-grain cumulative pass, one scalar reduce.",
)
def op_mann_whitney(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    vals = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0)).alias("na"),
    )
    ranked = global_cumsum(vals, ["v"], "n", "cum_n").withColumn(
        "below", F.col("cum_n") - F.col("n")
    )
    two = F.lit(2).cast("double")
    agg = ranked.agg(
        F.sum(
            F.col("na").cast("double")
            * (
                F.col("below").cast("double")
                + (F.col("n") + 1).cast("double") / two
            )
        ).alias("r_a"),
        F.sum("na").alias("n1"),
        F.sum(F.col("n") - F.col("na")).alias("n2"),
        F.sum(F.col("n") * F.col("n") * F.col("n") - F.col("n")).alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u_a = F.col("r_a") - (n1 * (n1 + 1)).cast("double") / two
    u_b = (n1 * n2).cast("double") - u_a
    var_u = ((n1 * n2).cast("double") / F.lit(12).cast("double")) * (
        (n1 + n2 + 1).cast("double")
        - F.col("ties").cast("double") / ((n1 + n2) * (n1 + n2 - 1)).cast("double")
    )
    z = (u_a - (n1 * n2).cast("double") / two) / F.sqrt(var_u)
    rb = F.lit(1).cast("double") - two * u_b / (n1 * n2).cast("double")
    return agg.select(
        n1.alias("n_a"),
        n2.alias("n_b"),
        u_a.alias("u_a"),
        u_b.alias("u_b"),
        z.alias("z"),
        rb.alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# op_ks_test — two-sample Kolmogorov-Smirnov distribution comparison
# ---------------------------------------------------------------------------


@register(
    "op_ks_test",
    oracle="""
        WITH vals AS (
            SELECT o_totalprice AS v,
                   count(*) AS n,
                   sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS na
            FROM orders GROUP BY 1
        ),
        tot AS (SELECT sum(na) AS n1, sum(n - na) AS n2 FROM vals),
        ecdf AS (
            SELECT sum(na) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_a,
                   sum(n) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_n
            FROM vals
        ),
        d AS (
            SELECT max(abs(CAST(cum_a AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(cum_n - cum_a AS DOUBLE)
                             / CAST(n2 AS DOUBLE))) AS d_stat
            FROM ecdf, tot
        )
        SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, d_stat,
               CAST(1.358 AS DOUBLE)
                   * sqrt(CAST(n1 + n2 AS DOUBLE)
                          / CAST(n1 * n2 AS DOUBLE)) AS d_crit_05,
               d_stat > CAST(1.358 AS DOUBLE)
                   * sqrt(CAST(n1 + n2 AS DOUBLE)
                          / CAST(n1 * n2 AS DOUBLE)) AS reject_05
        FROM d, tot
    """,
    doc="Two-sample Kolmogorov-Smirnov test on the A/B spend split: "
    "D = max |ECDF_A - ECDF_B| evaluated at the distinct-value grain "
    "(the supremum over all reals is attained at sample points), both "
    "ECDF numerators from ONE multi-column two-phase global_cumsum pass "
    "(one range exchange + one window emit cum_a and cum_n together; "
    "cum_b = cum_n - cum_a). ECDF ratios are integer-derived exactly-rounded "
    "divisions, the max of exact values is exact, and the alpha=0.05 "
    "critical value c*sqrt((n1+n2)/(n1*n2)) goes through IEEE-correct "
    "sqrt — all shipped unrounded, the 1.358 coefficient entering as a "
    "DOUBLE literal on both engines. The drift-detection primitive for "
    "feature/label distribution shift between data snapshots. Scale "
    "shape: value-grain aggregate, metadata-grain cumulative pass, "
    "scalar reduce.",
)
def op_ks_test(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    vals = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0)).alias("na"),
    )
    # cum of na and of n in ONE two-phase pass (multi-column global_cumsum:
    # one range exchange + one window serve both arms); the fence keeps the
    # aggregate from replaying under the range sampler (NOTES_r3 rfm lesson)
    vals = fence.checkpoint(vals)
    ec = global_cumsum(vals, ["v"], ["na", "n"], ["cum_a", "cum_n"])
    tot = vals.agg(
        F.sum("na").alias("n1"), F.sum(F.col("n") - F.col("na")).alias("n2")
    )
    ecdf = ec.crossJoin(F.broadcast(tot))
    diff = F.abs(
        F.col("cum_a").cast("double") / F.col("n1").cast("double")
        - (F.col("cum_n") - F.col("cum_a")).cast("double")
        / F.col("n2").cast("double")
    )
    d = ecdf.groupBy("n1", "n2").agg(F.max(diff).alias("d_stat"))
    crit = F.lit(1.358).cast("double") * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1") * F.col("n2")).cast("double")
    )
    return d.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        "d_stat",
        crit.alias("d_crit_05"),
        (F.col("d_stat") > crit).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# events_survival_km — Kaplan-Meier user-lifetime survival curve
# ---------------------------------------------------------------------------

_KM_CENSOR_US = 365 * 24 * 3600 * 1000000  # churn horizon: 1 year order-silence


@register(
    "op_survival_km",
    oracle=f"""
        WITH pu AS (
            SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
            FROM orders GROUP BY 1
        ),
        obs AS (SELECT max(l) AS e FROM pu),
        lt AS (
            SELECT (epoch_us(l) - epoch_us(f)) // 86400000000 AS dur,
                   CASE WHEN epoch_us(l) < epoch_us(e) - {_KM_CENSOR_US}
                        THEN 1 ELSE 0 END AS ch
            FROM pu, obs
        ),
        g AS (
            SELECT dur, count(*) AS n, sum(ch) AS d
            FROM lt GROUP BY 1
        ),
        r AS (
            SELECT dur, n, d,
                   sum(n) OVER (ORDER BY dur DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS at_risk
            FROM g
        ),
        ev AS (
            SELECT dur, at_risk, d, n - d AS censored,
                   ln(CAST(at_risk - d AS DOUBLE)
                      / CAST(at_risk AS DOUBLE)) AS term
            FROM r WHERE d > 0
        )
        SELECT dur AS duration_d,
               CAST(at_risk AS BIGINT) AS n_at_risk,
               CAST(d AS BIGINT) AS n_churned,
               CAST(censored AS BIGINT) AS n_censored,
               round(exp(sum(term) OVER (ORDER BY dur
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)), 6) AS survival
        FROM ev
    """,
    doc="Kaplan-Meier survival curve over customer purchase lifetimes "
    "(days between a customer's first and last order), right-censored "
    "for customers still ordering within 365 days of the observation "
    "horizon — the churn/retention estimator that handles the 'still "
    "alive' cohort correctly where a naive lifetime average would bias "
    "low. At each churn time t: S(t) = prod(1 - d_i/n_i) over churn "
    "times <= t, with the at-risk set n_i from a DESCENDING two-phase "
    "global_cumsum (sum of lifetimes >= t — one pass, no N scalar "
    "needed) and the product realized as exp(sum(ln(...))) on both "
    "engines. The ln/exp chain is the one libm-dependent step, so "
    "survival is ROUNDED to 6 dp (text_char_lm_score's log budget); "
    "d_i, n_i, censored counts ship as exact integers. Lifetime grain "
    "collapses the order book map-side; both cumulative passes run at "
    "the distinct-duration grain. Scale: at 100 TB the per-customer "
    "min/max is one combiner-collapsed aggregate; nothing row-level "
    "crosses the curve stages.",
)
def op_survival_km(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pu = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    obs = pu.agg(F.max("l").alias("obs_end"))
    # o_orderdate loads as TIMESTAMP_NTZ; session tz is pinned UTC
    # (ensure_engine_confs) so the cast to instant-typed TIMESTAMP is
    # lossless and unix_micros matches DuckDB's epoch_us exactly.
    lu = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    lt = pu.crossJoin(F.broadcast(obs)).select(
        (lu("l") - lu("f")).alias("__us"),
        F.when(lu("l") < lu("obs_end") - F.lit(_KM_CENSOR_US), 1)
        .otherwise(0)
        .alias("ch"),
    ).select(F.expr("__us div 86400000000").alias("dur"), "ch")
    g = lt.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ch").alias("d")
    )
    # distinct-duration grain is metadata-sized; fence before the two
    # chained two-phase passes (NOTES_r3 rfm lesson)
    g = fence.checkpoint(g)
    r = global_cumsum(g, ["dur"], "n", "at_risk", descending=True)
    ev = r.filter(F.col("d") > 0).select(
        "dur",
        "at_risk",
        "d",
        (F.col("n") - F.col("d")).alias("censored"),
        F.log(
            (F.col("at_risk") - F.col("d")).cast("double")
            / F.col("at_risk").cast("double")
        ).alias("term"),
    )
    ev = fence.checkpoint(ev)
    s = global_cumsum(ev, ["dur"], "term", "logsum")
    return s.select(
        F.col("dur").alias("duration_d"),
        F.col("at_risk").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        F.col("censored").alias("n_censored"),
        F.round(F.exp("logsum"), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# op_label_propagation — community detection on the part-supplier graph
# ---------------------------------------------------------------------------


@register(
    "op_label_propagation",
    oracle="""
        WITH e0 AS (
            SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                   's' || CAST(l_suppkey AS VARCHAR) AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        und AS (
            SELECT src, dst, w FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM e0
        ),
        l0 AS (SELECT DISTINCT src AS node FROM und),
        v1 AS (
            SELECT u.dst, l.label, sum(u.w) AS v
            FROM und u
            JOIN (SELECT node, node AS label FROM l0) l ON u.src = l.node
            GROUP BY 1, 2
        ),
        l1 AS (
            SELECT dst AS node, label FROM (
                SELECT dst, label,
                       row_number() OVER (PARTITION BY dst
                                          ORDER BY v DESC, label ASC) AS rn
                FROM v1) WHERE rn = 1
        ),
        v2 AS (
            SELECT u.dst, l.label, sum(u.w) AS v
            FROM und u JOIN l1 l ON u.src = l.node
            GROUP BY 1, 2
        ),
        l2 AS (
            SELECT dst AS node, label FROM (
                SELECT dst, label,
                       row_number() OVER (PARTITION BY dst
                                          ORDER BY v DESC, label ASC) AS rn
                FROM v2) WHERE rn = 1
        )
        SELECT node, label FROM l2
    """,
    doc="Weighted label-propagation community detection "
    "(operators/graph.py label_propagation — Raghavan et al. 2007 made "
    "deterministic) over the bipartite part-supplier fulfilment graph "
    "(edge weight = lineitem count): which supplier/part clusters trade "
    "together. Two synchronous rounds from self-labels; each node adopts "
    "the neighbour label with the largest incident weight, ties to the "
    "smallest label — the published algorithm's random visit order "
    "replaced by a total tie order so engine replays are bit-identical "
    "(vote weights are integer-derived doubles, exact under any "
    "summation order). Per iteration one src-keyed join + one "
    "(node, label) combiner-collapsed aggregation + a min(struct(-v, "
    "label)) argmax aggregation (map-side combinable — no window, no "
    "per-iteration sort; the oracle keeps the row_number form); labels "
    "are node ids so the shuffle payload never exceeds "
    "two id columns — the GraphX/Pregel LPA shape without GraphX. "
    "Graph-analytics sibling of op_pagerank (centrality), "
    "op_triangle_count (cohesion), and dedup_cluster_corpus "
    "(components).",
)
def op_label_propagation(spark, sf_dir):
    from .operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.groupBy(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return label_propagation(edges, iterations=2)


# ---------------------------------------------------------------------------
# events_heavy_hitters_cms — count-min-sketch frequency estimation
# ---------------------------------------------------------------------------

_CMS_W = 64  # sketch width (buckets per hash row); depth is 3 seeded rows


def _cms_bucket_sql(seed: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{seed}' || CAST(user_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {_CMS_W}"
    )


@register(
    "events_heavy_hitters_cms",
    oracle=f"""
        WITH sk0 AS (SELECT {_cms_bucket_sql('cms0')} AS b, count(*) AS c
                     FROM events GROUP BY 1),
        sk1 AS (SELECT {_cms_bucket_sql('cms1')} AS b, count(*) AS c
                FROM events GROUP BY 1),
        sk2 AS (SELECT {_cms_bucket_sql('cms2')} AS b, count(*) AS c
                FROM events GROUP BY 1),
        cand AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1)
        SELECT user_id,
               least(s0.c, s1.c, s2.c) AS est_n,
               true_n,
               least(s0.c, s1.c, s2.c) - true_n AS overestimate
        FROM cand
        JOIN sk0 s0 ON s0.b = {_cms_bucket_sql('cms0')}
        JOIN sk1 s1 ON s1.b = {_cms_bucket_sql('cms1')}
        JOIN sk2 s2 ON s2.b = {_cms_bucket_sql('cms2')}
        ORDER BY est_n DESC, user_id LIMIT 20
    """,
    doc="Count-min-sketch heavy hitters over the event stream: a 3x64 "
    "CMS (three md5-seeded hash rows — the repo's portable "
    "md5-first-32-bits idiom, never engine-local hash()) built as three "
    "map-side-combined bucket aggregations, then per-user estimates = "
    "min across rows via three BROADCAST joins of the 64-cell sketch "
    "tables. Top-20 by (estimate, user_id) through "
    "TakeOrderedAndProject. The exact per-user count rides along so the "
    "output exhibits the CMS guarantee (overestimate >= 0, bounded by "
    "colliding mass) — the oracle replays the identical sketch, making "
    "the guarantee independently checked rather than self-certified. "
    "100 TB story: the sketch is the aggregation-collapse pattern for "
    "cardinality-heavy streams — the full stream folds into depth*width "
    "integer cells per executor before any shuffle, and estimation "
    "never joins stream-sized tables (broadcast of 192 cells); width "
    "scales as ceil(e/eps) independent of data volume. Batch twin of "
    "the streaming sketch tier (events_sliding_distinct_hll).",
)
def events_heavy_hitters_cms(spark, sf_dir):
    e = _t(spark, sf_dir, "events")

    def bucket(seed: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(seed), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        )

    sketches = [
        e.groupBy(bucket(f"cms{j}").alias(f"b{j}")).agg(
            F.count(F.lit(1)).alias(f"c{j}")
        )
        for j in range(3)
    ]
    cand = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    for j, sk in enumerate(sketches):
        cand = cand.withColumn(f"b{j}", bucket(f"cms{j}")).join(
            F.broadcast(sk), f"b{j}"
        )
    est = F.least(F.col("c0"), F.col("c1"), F.col("c2"))
    return (
        cand.select(
            "user_id",
            est.alias("est_n"),
            "true_n",
            (est - F.col("true_n")).alias("overestimate"),
        )
        .orderBy(F.col("est_n").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# op_item_cf_jaccard — item-item collaborative-filtering neighbours
# ---------------------------------------------------------------------------


@register(
    "op_item_cf_jaccard",
    oracle="""
        WITH ui0 AS (
            SELECT o.o_custkey AS u, l.l_partkey AS item,
                   max(o.o_orderdate) AS last_d
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ),
        ui AS (
            SELECT u, item FROM (
                SELECT u, item,
                       row_number() OVER (PARTITION BY u
                                          ORDER BY last_d DESC, item) AS rn
                FROM ui0) WHERE rn <= 64
        ),
        sizes AS (SELECT item, count(*) AS n FROM ui GROUP BY 1),
        co AS (
            SELECT a.item AS ia, b.item AS ib, count(*) AS co
            FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
            GROUP BY 1, 2
        ),
        both_dirs AS (
            SELECT ia AS item, ib AS nbr, co FROM co
            UNION ALL
            SELECT ib AS item, ia AS nbr, co FROM co
        ),
        scored AS (
            SELECT d.item, d.nbr, d.co,
                   CAST(d.co AS DOUBLE)
                       / CAST(sa.n + sb.n - d.co AS DOUBLE) AS jaccard
            FROM both_dirs d
            JOIN sizes sa ON d.item = sa.item
            JOIN sizes sb ON d.nbr = sb.item
        )
        SELECT item, nbr, co, jaccard, rnk FROM (
            SELECT item, nbr, co, jaccard,
                   row_number() OVER (PARTITION BY item
                                      ORDER BY jaccard DESC, co DESC, nbr)
                       AS rnk
            FROM scored) WHERE rnk <= 3
    """,
    doc="Item-item collaborative filtering ('customers who bought X also "
    "bought Y'): top-3 neighbours per part by Jaccard similarity of "
    "buyer sets. Pair work is proportional to sum of per-customer "
    "basket-size^2, so baskets are CAPPED at max_items_per_user=64 "
    "items (most-recent-purchase first, ties to smallest part id; the "
    "oracle states the identical cut as a uniform row_number <= 64) "
    "BEFORE pair generation — one power user with 10^4 items would "
    "otherwise contribute 10^8 pairs. Both the cap and the pair "
    "generation are ROW-LOCAL: per-user item arrays are built with one "
    "collect_list aggregation, the recency cut is array_sort+slice "
    "inside the row, and unordered pairs come from a nested transform "
    "over the ascending-sorted capped array (ia < ib by construction), "
    "so the plan has no self-join, no per-user window, and no probe "
    "stage — the (u,item) stream is shuffled ONCE instead of feeding "
    "a two-sided sort-merge self-join (which shuffles and sorts it "
    "twice). Pairs are then emitted in both directions for the "
    "per-item neighbour window. "
    "jaccard = co / (|A| + |B| - co) is an integer-derived "
    "exactly-rounded division — shipped unrounded; the neighbour rank "
    "uses the total order (jaccard DESC, co DESC, nbr) so ties are "
    "engine-identical. Windows are item-partitioned, never global. The "
    "classic recsys candidate-generation primitive; sibling of "
    "op_basket_lift (association rules) at the user rather than order "
    "grain.",
)
def op_item_cf_jaccard(spark, sf_dir, max_items_per_user: int = 64):
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    from pyspark.sql import Window

    # ONE user-keyed exchange feeds the whole basket build (r12, guide
    # §2.4 "two operations keyed the same way can share one exchange"):
    # hash(u) satisfies the clustered distribution of BOTH groupBy(u, item)
    # and groupBy(u), so the explicit repartition below is the only
    # shuffle between the join and the persisted baskets — the r4-r11 form
    # paid three (hash(u, item) for the max, hash(u) for the collect, then
    # a round-robin for explode parallelism). The explicit numPartitions
    # keeps AQE from coalescing it (user-specified counts are preserved),
    # which is exactly the guarantee the old round-robin repartition
    # existed to provide; the foregone map-side partial max costs nothing
    # here because (u, item) pairs are near-distinct in the join output.
    ui0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("item"),
            F.col("o_orderdate"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "u")
        .groupBy("u", "item")
        .agg(F.max("o_orderdate").alias("last_d"))
    )
    # Per-user basket as ONE array row (shuffle on u; collect_list runs
    # under ObjectHashAggregate with partial aggregation). The recency cap
    # is row-local: sort structs by (-epoch_day, item) ascending ==
    # (last_d DESC, item ASC), slice to the cap, then re-sort the surviving
    # item ids ascending so nested-loop pair generation emits each
    # unordered pair exactly once with ia < ib by construction.
    # Scale note: the aggregation buffer for one user holds ALL their
    # distinct items before the slice — memory is proportional to the
    # single hottest user's distinct-item count (a few MB at 10^5 items),
    # one row per user, never a data-sized single partition; this replaces
    # the r4 adaptive window arm whose probe/anti-join/window pipeline cost
    # ~2x the whole query at bench scale (measured: 16.6 s -> see
    # BASELINE.md round-4 errata) while bounding the same quantity.
    baskets = (
        ui0.groupBy("u")
        .agg(
            F.collect_list(
                F.struct(
                    (-F.datediff(F.col("last_d"), F.lit("1970-01-01"))).alias(
                        "negd"
                    ),
                    F.col("item"),
                )
            ).alias("recency")
        )
        .select(
            "u",
            F.array_sort(
                F.transform(
                    F.slice(
                        F.array_sort("recency"), 1, max_items_per_user
                    ),
                    lambda s: s["item"],
                )
            ).alias("items"),
        )
    )
    # baskets feeds both the pair stream and the buyer-set sizes; it is a
    # small frame (one row per user) — fence it so the join+agg above runs
    # once. The fence is a PERSIST pin (VERDICT r5 item 7), not a
    # localCheckpoint: evictable, recomputable after executor loss
    # (recompute is safe — the basket arrays are array_sort-normalized, so
    # collect_list order can't leak), and both consumers (sizes, pair
    # stream) share this exact DataFrame object so the cache lookup hits
    # by plan identity. Partitioning/parallelism note (r12): the persisted
    # frame inherits the explicit repartition(N, u) above — N full-width
    # partitions that AQE never coalesced — so the ~200x pair-explode
    # below runs at full parallelism straight off the cache (the r4-r11
    # form re-shuffled baskets round-robin here for the same guarantee;
    # interleaved A/B at sf0.1: med 5.4 -> 4.7 s with the shared exchange).
    from pyspark.storagelevel import StorageLevel

    baskets = fence.persist(baskets, StorageLevel.MEMORY_AND_DISK)
    sizes = baskets.select(F.explode("items").alias("item")).groupBy(
        "item"
    ).agg(F.count(F.lit(1)).alias("n"))
    # Row-local unordered pair generation: for the i-th item (0-based),
    # pair it with every later item in the ascending array. slice() is
    # 1-based and clamps past the end, so a length of max_items_per_user
    # always covers the tail.
    pairs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + F.lit(2), F.lit(max_items_per_user)),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    co = (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.ia", "p.ib")
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    # Mirror AFTER the aggregate by exploding each canonical pair row into
    # its two directions (r11 opt). The r4-r10 form mirrored with a UNION
    # of two renamed projections of ``co`` — non-identical subplans, so
    # ReuseExchange never fired and the explode+partial-agg chain (the
    # query's heaviest stage) EXECUTED TWICE off the basket cache
    # (plan-verified: two Generate+HashAggregate+Exchange chains under
    # Union (32) in plans/r11/op_item_cf_jaccard_before.txt). A row-local
    # explode of the AGGREGATED frame keeps the chain single-pass and
    # linear — no union, no fence, and the partial-aggregation hash maps
    # stay canonical-pair-sized (an earlier attempt that exploded both
    # directions BEFORE the aggregate doubled the per-task map cardinality
    # and collapsed to sort-spill under late-session memory pressure:
    # 6.0 -> 14.7 s warm in the full bench despite probing fine solo).
    both = co.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("item"), F.col("ib").alias("nbr"), F.col("co")
                ),
                F.struct(
                    F.col("ib").alias("item"), F.col("ia").alias("nbr"), F.col("co")
                ),
            )
        ).alias("p")
    ).select("p.item", "p.nbr", "p.co")
    # sizes is one row per distinct item (catalog-sized, ~2 MB at 10^5
    # items x 12 bytes) — broadcast BOTH lookups so the pair stream is
    # never re-shuffled on item/nbr just to attach the set sizes
    # (guide §3.1; the pre-AQE plan chose SortMergeJoin from the cached
    # aggregate's unknown stats, costing two full pair-stream exchanges).
    sa = F.broadcast(sizes.select(F.col("item"), F.col("n").alias("na")))
    sb = F.broadcast(
        sizes.select(F.col("item").alias("nbr"), F.col("n").alias("nb"))
    )
    scored = (
        both.join(sa, "item")
        .join(sb, "nbr")
        .select(
            "item",
            "nbr",
            "co",
            (
                F.col("co").cast("double")
                / (F.col("na") + F.col("nb") - F.col("co")).cast("double")
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("jaccard").desc(), F.col("co").desc(), F.col("nbr")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("item", "nbr", "co", "jaccard", "rnk")
    )


# ---------------------------------------------------------------------------
# op_pca_power — distributed Gram matrix + power iteration (leading PC)
# ---------------------------------------------------------------------------

_PCA_D = 5  # feature dims: order-priority spend-share profile per customer


@register(
    "op_pca_power",
    oracle=f"""
        WITH s AS (
            SELECT o_custkey AS c,
                   CAST(substr(o_orderpriority, 1, 1) AS INT) AS i,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS sp
            FROM orders GROUP BY 1, 2
        ),
        t AS (SELECT c, sum(sp) AS tot FROM s GROUP BY 1),
        x AS (SELECT s.c, s.i, s.sp / t.tot AS v FROM s JOIN t USING (c)),
        g AS (
            SELECT a.i AS i, b.i AS j, round(sum(a.v * b.v), 6) AS g
            FROM x a JOIN x b ON a.c = b.c GROUP BY 1, 2
        ),
        v0 AS (
            SELECT t.range AS i,
                   CAST(1 AS DOUBLE) / sqrt(CAST({_PCA_D} AS DOUBLE)) AS v
            FROM range(1, {_PCA_D} + 1) t
        ),
        w1 AS (
            SELECT g.i,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(g.g * v0.v ORDER BY g.j)),
                       (a, x) -> a + x) AS w
            FROM g JOIN v0 ON g.j = v0.i GROUP BY g.i
        ),
        n1 AS (
            SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(w * w ORDER BY i)), (a, x) -> a + x)) AS nrm
            FROM w1
        ),
        v1 AS (SELECT i, w / nrm AS v FROM w1, n1),
        w2 AS (
            SELECT g.i,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(g.g * v1.v ORDER BY g.j)),
                       (a, x) -> a + x) AS w
            FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i
        ),
        n2 AS (
            SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(w * w ORDER BY i)), (a, x) -> a + x)) AS nrm
            FROM w2
        )
        SELECT w2.i AS component, w2.w / n2.nrm AS loading,
               n2.nrm AS eigenvalue
        FROM w2, n2
    """,
    doc="Leading principal component of customer order-priority "
    "spend-share profiles via the distributed-Gram + power-iteration "
    "pattern: the N x d feature matrix never leaves the cluster — one "
    "customer-keyed self-join folds it into a d x d Gram matrix "
    f"(d = {_PCA_D}: share of spend per priority class, features built "
    "from exact DECIMAL sums so the matrix itself is engine-exact), "
    "then two power iterations run at the metadata grain. The "
    "share-profile Gram has a dominant eigenvalue (every customer's "
    "shares sum to 1, so the mean profile direction carries most "
    "energy — eigengap ratio ~0.2, two iterations reach alignment "
    "1 - 1e-5), unlike an isotropic embedding cloud where power "
    "iteration cannot converge. Gram entries are the ONLY "
    "accumulation-order-sensitive values (row-sum of float products) "
    "and are ROUNDED to 6 dp at the handoff; from there every step is "
    "engine-bit-identical by construction — matrix-vector products and "
    "norms use the repo's sequential-fold idiom (array_sort + "
    "F.aggregate == DuckDB list(... ORDER BY) + list_reduce), sqrt is "
    "IEEE-correctly-rounded, and the start vector 1/sqrt(d) is a fixed "
    "expression — so loadings and the eigenvalue estimate (L2 norm of "
    "the last un-normalized iterate, the Rayleigh limit) ship "
    "UNROUNDED. 100 TB story: this is how PCA/SVD initialization "
    "actually runs on Spark — O(N d^2) map-side work, one d^2-cell "
    "shuffle, driver-free iteration; d grows to hundreds before the "
    "Gram stops being broadcastable.",
)
def op_pca_power(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    from .registry import dec

    s = o.groupBy(
        F.col("o_custkey").alias("c"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("i"),
    ).agg(F.sum(dec("o_totalprice")).cast("double").alias("sp"))
    tot = s.groupBy("c").agg(F.sum("sp").alias("tot"))
    x = s.join(tot, "c").select("c", "i", (F.col("sp") / F.col("tot")).alias("v"))
    x = fence.checkpoint(x)  # both self-join sides read it
    a = x.select("c", F.col("i"), F.col("v").alias("va"))
    b = x.select("c", F.col("i").alias("j"), F.col("v").alias("vb"))
    g = fence.checkpoint(  # d^2 cells, read by both iterations
        a.join(b, "c")
        .groupBy("i", "j")
        .agg(F.round(F.sum(F.col("va") * F.col("vb")), 6).alias("g"))
    )

    def fold_sum(col_struct_arr):
        return F.aggregate(
            col_struct_arr, F.lit(0.0), lambda acc, x: acc + x["t"]
        )

    def matvec(vcur):
        vv = vcur.select(F.col("i").alias("j"), F.col("v"))
        return (
            g.join(vv, "j")
            .groupBy("i")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("j"), (F.col("g") * F.col("v")).alias("t"))
                    )
                ).alias("ts")
            )
            .select("i", fold_sum(F.col("ts")).alias("w"))
        )

    def normalize(w):
        # fence (r11 opt): ``w`` feeds both the norm aggregate and the
        # output stream, and each power iteration nests the previous one —
        # unfenced, iteration k's two branches re-run iteration k-1's two
        # branches (2^k matvec subtrees; the before-plan carried 38
        # exchanges for d=5). A lazy checkpoint of the d-row frame makes
        # the plan linear in iterations.
        w = fence.checkpoint(w, eager=False)
        nrm = w.groupBy().agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("i"), (F.col("w") * F.col("w")).alias("t"))
                )
            ).alias("ts")
        ).select(F.sqrt(fold_sum(F.col("ts"))).alias("nrm"))
        return w.crossJoin(F.broadcast(nrm))

    v0 = g.select("i").distinct().select(
        "i",
        (F.lit(1).cast("double") / F.sqrt(F.lit(_PCA_D).cast("double"))).alias("v"),
    )
    w1 = normalize(matvec(v0))
    v1 = w1.select("i", (F.col("w") / F.col("nrm")).alias("v"))
    w2 = normalize(matvec(v1))
    return w2.select(
        F.col("i").alias("component"),
        (F.col("w") / F.col("nrm")).alias("loading"),
        F.col("nrm").alias("eigenvalue"),
    )


# ---------------------------------------------------------------------------
# op_holt_linear — Holt double-exponential smoothing (level + trend)
# ---------------------------------------------------------------------------

@register(
    "op_holt_linear",
    oracle="""
        WITH hc AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS h,
                   CAST(count(*) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT event_type,
                   list(y ORDER BY h) AS ys,
                   count(*) AS n_hours
            FROM hc GROUP BY 1
        ),
        fitted AS (
            SELECT event_type, n_hours,
                   list_reduce(
                       list_prepend([ys[1], ys[2] - ys[1]],
                                    list_transform(ys[2:],
                                                   x -> [x, CAST(0 AS DOUBLE)])),
                       (acc, x) -> [
                           CAST(0.5 AS DOUBLE) * x[1]
                               + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                           CAST(0.3 AS DOUBLE)
                               * (CAST(0.5 AS DOUBLE) * x[1]
                                  + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])
                                  - acc[1])
                               + CAST(0.7 AS DOUBLE) * acc[2]]) AS st
            FROM series
        )
        SELECT event_type, n_hours,
               st[1] AS level, st[2] AS trend,
               st[1] + st[2] AS forecast_next
        FROM fitted
    """,
    doc="Holt double-exponential smoothing (level + linear trend) of the "
    "hourly event-count series per event type — the trend-aware upgrade "
    "of events_ewma for capacity forecasting. Initialized the textbook "
    "way (l0 = y1, b0 = y2 - y1) and folded sequentially over the "
    "remaining points with alpha = 0.5, gamma = 0.3: both engines run "
    "the IDENTICAL fold (Spark F.aggregate over the hour-sorted array "
    "== DuckDB list_reduce over list(... ORDER BY h)), the smoothing "
    "constants and their complements enter as independent DOUBLE "
    "literals (never 1 - alpha in Python — the decimal-drift trap), "
    "and every step is an exactly-rounded fixed-order chain — so "
    "level/trend/forecast ship UNROUNDED, bit-identical. The fold "
    "state is a 2-element DOUBLE array, NOT a struct: DuckDB "
    "list_reduce evaluates struct_pack accumulator fields in-place "
    "sequentially (a later field's expression sees the earlier field's "
    "freshly assigned value), which silently corrupts any multi-value "
    "recurrence — array construction evaluates all elements against "
    "the original accumulator on both engines. Scale shape: "
    "series-per-key — the event stream collapses map-side to "
    "(type, hour) cells, each type's bounded series folds inside one "
    "task; unbounded/streaming series use the stateful twin (streaming "
    "ewma_hourly_stateful pattern).",
)
def op_holt_linear(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = hc.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    a, one_a = F.lit(0.5), F.lit(0.5)
    gm, one_g = F.lit(0.3), F.lit(0.7)
    init = F.array(
        F.element_at("ys", 1),
        F.element_at("ys", 2) - F.element_at("ys", 1),
    )
    rest = F.slice(F.col("ys"), 2, F.size("ys") - 1)
    st = F.aggregate(
        rest,
        init,
        lambda acc, x: F.array(
            a * x + one_a * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            gm
            * (
                a * x
                + one_a * (F.element_at(acc, 1) + F.element_at(acc, 2))
                - F.element_at(acc, 1)
            )
            + one_g * F.element_at(acc, 2),
        ),
    )
    return series.select(
        "event_type",
        "n_hours",
        st[0].alias("level"),
        st[1].alias("trend"),
        (st[0] + st[1]).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# op_cohort_ltv — quarterly-cohort cumulative lifetime value
# ---------------------------------------------------------------------------


@register(
    "op_cohort_ltv",
    oracle="""
        WITH first_o AS (
            SELECT o_custkey, min(o_orderdate) AS f
            FROM orders GROUP BY 1
        ),
        tagged AS (
            SELECT o.o_custkey,
                   year(f.f) || '-Q' || quarter(f.f) AS cohort,
                   (year(o.o_orderdate) * 4 + quarter(o.o_orderdate))
                       - (year(f.f) * 4 + quarter(f.f)) AS age_q,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders o JOIN first_o f ON o.o_custkey = f.o_custkey
        ),
        sizes AS (
            SELECT year(f) || '-Q' || quarter(f) AS cohort,
                   count(*) AS n_customers
            FROM first_o GROUP BY 1
        ),
        cells AS (
            SELECT cohort, age_q,
                   sum(p) AS rev, count(*) AS n_orders
            FROM tagged GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort, age_q, n_orders,
                   round(CAST(rev AS DOUBLE), 2) AS revenue,
                   sum(rev) OVER (PARTITION BY cohort ORDER BY age_q) AS cum_rev
            FROM cells
        )
        SELECT c.cohort, c.age_q, s.n_customers, c.n_orders, c.revenue,
               round(CAST(c.cum_rev AS DOUBLE), 2) AS cum_revenue,
               CAST(c.cum_rev AS DOUBLE) / CAST(s.n_customers AS DOUBLE)
                   AS ltv_per_customer
        FROM cum c JOIN sizes s ON c.cohort = s.cohort
    """,
    doc="Quarterly acquisition-cohort lifetime value: customers are "
    "binned by the quarter of their first order, revenue is accumulated "
    "per cohort over cohort age (quarters since acquisition), and LTV "
    "per customer = cumulative revenue / cohort size. The "
    "revenue-weighted sibling of events_cohort_retention (which counts "
    "active users). Money flows through exact DECIMAL(18,2) sums "
    "(order-independent) and leaves the engine through the standard "
    "fin() projection; ltv_per_customer is an exactly-rounded division "
    "of the exact cents grid by an integer — shipped unrounded. The "
    "cumulative window partitions by cohort (never global); the "
    "first-order table joins back customer-keyed. Scale: cohort x age "
    "cells are metadata-sized after one map-side-combined aggregation "
    "of the order book.",
)
def op_cohort_ltv(spark, sf_dir):
    from pyspark.sql import Window

    from .registry import dec

    o = _t(spark, sf_dir, "orders")

    first_o = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("f"))
    cohort = F.concat(
        F.year("f").cast("string"), F.lit("-Q"), F.quarter("f").cast("string")
    )
    tagged = o.join(first_o, "o_custkey").select(
        cohort.alias("cohort"),
        (
            (F.year("o_orderdate") * 4 + F.quarter("o_orderdate"))
            - (F.year("f") * 4 + F.quarter("f"))
        ).alias("age_q"),
        dec("o_totalprice").alias("p"),
    )
    sizes = first_o.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    cells = tagged.groupBy("cohort", "age_q").agg(
        F.sum("p").alias("rev"), F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.partitionBy("cohort").orderBy("age_q")
    cum = cells.select(
        "cohort",
        "age_q",
        "n_orders",
        fin("rev").alias("revenue"),
        F.sum("rev").over(w).alias("cum_rev"),
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        "cohort",
        "age_q",
        "n_customers",
        "n_orders",
        "revenue",
        fin("cum_rev").alias("cum_revenue"),
        (
            F.col("cum_rev").cast("double") / F.col("n_customers").cast("double")
        ).alias("ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# events_concurrency_peak — interval-sweep peak concurrent sessions
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1800 * 1000000  # 30-minute inactivity gap


@register(
    "events_concurrency_peak",
    oracle=f"""
        WITH pts AS (
            SELECT user_id, epoch_us(ts) AS us,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            > {_SESSION_GAP_US}
                        OR lag(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        sess AS (
            SELECT user_id,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid,
                   us
            FROM pts
        ),
        iv AS (
            SELECT user_id, sid, min(us) AS s, max(us) AS e
            FROM sess GROUP BY 1, 2
        ),
        sweep AS (
            SELECT s AS us, 1 AS delta, user_id, sid FROM iv
            UNION ALL
            SELECT e AS us, -1 AS delta, user_id, sid FROM iv
        ),
        swept AS (
            SELECT us, delta,
                   sum(delta) OVER (ORDER BY us, -delta, user_id, sid
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS c
            FROM sweep
        ),
        peak AS (SELECT max(c) AS peak_concurrency FROM swept)
        SELECT (SELECT count(*) FROM iv) AS n_sessions,
               CAST(p.peak_concurrency AS BIGINT) AS peak_concurrency,
               (SELECT min(us) FROM swept, peak
                WHERE c = peak.peak_concurrency) AS first_peak_us
        FROM peak p
    """,
    doc="Peak concurrent user sessions via the interval-sweep (+1/-1) "
    "algorithm: sessions are 30-minute-gap bounded (the events_sessionize "
    "rule), each contributes a +1 at its start and a -1 at its end, and "
    "the running sum over the merged boundary stream is the exact "
    "concurrency profile — max and first-attainment time reported. The "
    "capacity-planning / license-sizing primitive (how many "
    "simultaneously active users must the system hold). All arithmetic "
    "is integer microseconds (epoch_us == unix_micros after the "
    "loader's nanos conversion); the boundary order (us, +1 before -1, "
    "user, session) is total, so the profile is engine-identical — a "
    "session touching another at the same microsecond counts as "
    "overlapping, documented. The global running sum is the two-phase "
    "global_cumsum (range-partitioned, broadcast offsets — never a "
    "single-partition sort over the boundary stream); session building "
    "is user-partitioned windows. Scale: 2 rows per session cross the "
    "sweep, orders of magnitude under the event stream.",
)
def events_concurrency_peak(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                > _SESSION_GAP_US
            )
            | F.lag("ts").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = pts.select("user_id", F.sum("brk").over(ws).alias("sid"), "us")
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("s"), F.max("us").alias("e")
    )
    iv = fence.checkpoint(iv)  # read by sweep twice + count
    sweep = iv.select(
        F.col("s").alias("us"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionAll(
        iv.select(F.col("e").alias("us"), F.lit(-1).alias("delta"), "user_id", "sid")
    ).withColumn("neg_delta", -F.col("delta"))
    swept = global_cumsum(
        sweep, ["us", "neg_delta", "user_id", "sid"], "delta", "c"
    )
    swept = fence.checkpoint(swept)  # peak + first-attainment reads
    peak = swept.agg(F.max("c").alias("peak_concurrency"))
    first = (
        swept.join(F.broadcast(peak), F.col("c") == F.col("peak_concurrency"))
        .agg(F.min("us").alias("first_peak_us"))
    )
    n = iv.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        n.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(first))
        .select("n_sessions", "peak_concurrency", "first_peak_us")
    )


# ---------------------------------------------------------------------------
# q_dp_release — differentially-private aggregate release (Laplace)
# ---------------------------------------------------------------------------

_DP_EPS = "CAST(1.0 AS DOUBLE)"  # privacy budget per released statistic


@register(
    "q_dp_release",
    oracle=f"""
        WITH agg AS (
            SELECT n.n_name AS nation, count(*) AS true_n
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        ),
        noised AS (
            SELECT nation, true_n,
                   (CAST(('0x' || substr(md5('dp1' || nation), 1, 8))
                         AS BIGINT) + 1)
                       / CAST(4294967296 AS DOUBLE) AS u
            FROM agg
        )
        SELECT nation,
               round(CAST(true_n AS DOUBLE)
                     - (CAST(1 AS DOUBLE) / {_DP_EPS})
                       * CASE WHEN u - CAST(0.5 AS DOUBLE) >= 0
                              THEN CAST(1 AS DOUBLE)
                              ELSE CAST(-1 AS DOUBLE) END
                       * ln(CAST(1 AS DOUBLE)
                            - CAST(2 AS DOUBLE)
                              * abs(u - CAST(0.5 AS DOUBLE))), 4)
                   AS noisy_n,
               round((CAST(1 AS DOUBLE) / {_DP_EPS})
                     * CASE WHEN u - CAST(0.5 AS DOUBLE) >= 0
                            THEN CAST(1 AS DOUBLE)
                            ELSE CAST(-1 AS DOUBLE) END
                     * ln(CAST(1 AS DOUBLE)
                          - CAST(2 AS DOUBLE)
                            * abs(u - CAST(0.5 AS DOUBLE))) * CAST(-1 AS DOUBLE),
                     4) AS noise
        FROM noised
    """,
    doc="Differentially-private count release (governance-layer sibling "
    "of q_masked_view): per-nation customer counts published with "
    "Laplace(sensitivity/epsilon) noise, epsilon = 1.0, count "
    "sensitivity 1. The noise is sampled by inverse-CDF from a "
    "DETERMINISTIC md5-derived uniform (the repo's seeded-randomness "
    "idiom — never rand(), so releases are reproducible and "
    "engine-replayable; a production deployment would swap the salt "
    "per release). u in (0, 1] via (h32 + 1) / 2^32; noise = "
    "-(1/eps) * sign(u - 0.5) * ln(1 - 2|u - 0.5|). The ln output is "
    "libm-dependent, so noisy values are ROUNDED to 4 dp (the "
    "log-output budget); everything upstream is exact integers. The "
    "true count never appears in the released columns of a production "
    "view — it rides along here so the oracle check pins the noise "
    "math itself. Scale: one map-side-combined count plus a pure map "
    "expression — the DP layer adds zero shuffles.",
)
def q_dp_release(spark, sf_dir):
    c, n = _t(spark, sf_dir, "customer", "nation")
    agg = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp1"), F.col("nation"))), 1, 8), 16, 10
    ).cast("bigint")
    u = (h + 1) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    sign = F.when(centered >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = (
        (F.lit(1.0) / F.lit(1.0))
        * sign
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return agg.select(
        "nation",
        F.round(F.col("true_n").cast("double") - lap, 4).alias("noisy_n"),
        F.round(lap * F.lit(-1.0), 4).alias("noise"),
    )


# ---------------------------------------------------------------------------
# op_metric_decomposition — period-over-period mix/rate contribution
# ---------------------------------------------------------------------------


@register(
    "op_metric_decomposition",
    oracle="""
        WITH seg AS (
            SELECT c.c_mktsegment AS segment,
                   year(o.o_orderdate) AS yr,
                   count(*) AS n,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS rev
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE year(o.o_orderdate) IN (1995, 1996)
            GROUP BY 1, 2
        ),
        tot AS (SELECT yr, sum(n) AS tot_n FROM seg GROUP BY 1),
        wide AS (
            SELECT s.segment,
                   max(CASE WHEN s.yr = 1995
                       THEN CAST(s.n AS DOUBLE) / CAST(t.tot_n AS DOUBLE)
                       END) AS w1,
                   max(CASE WHEN s.yr = 1996
                       THEN CAST(s.n AS DOUBLE) / CAST(t.tot_n AS DOUBLE)
                       END) AS w2,
                   max(CASE WHEN s.yr = 1995 THEN s.rev / CAST(s.n AS DOUBLE)
                       END) AS r1,
                   max(CASE WHEN s.yr = 1996 THEN s.rev / CAST(s.n AS DOUBLE)
                       END) AS r2
            FROM seg s JOIN tot t ON s.yr = t.yr
            GROUP BY 1
        )
        SELECT segment, w1, w2, r1, r2,
               (w2 - w1) * r1 AS mix_effect,
               w2 * (r2 - r1) AS rate_effect,
               (w2 - w1) * r1 + w2 * (r2 - r1) AS contribution
        FROM wide
    """,
    doc="Period-over-period metric decomposition (contribution "
    "analysis): the change in overall average order value from 1995 to "
    "1996 split per market segment into a MIX effect (segment share "
    "shift at old rates, (w2-w1)*r1) and a RATE effect (value change "
    "at new shares, w2*(r2-r1)) — the exact two-factor identity "
    "sum_s[(w2-w1)*r1 + w2*(r2-r1)] = m2 - m1, the root-cause "
    "primitive behind every 'why did the metric move' dashboard. "
    "Shares are integer-derived exactly-rounded divisions; per-segment "
    "rates divide an exact DECIMAL cents sum (cast losslessly to "
    "double) by an integer — every output is a fixed-order "
    "exactly-rounded chain on exact inputs and ships UNROUNDED. Scale "
    "shape: one map-side-combined (segment, year) aggregate over the "
    "order book joined to the broadcast year totals; the decomposition "
    "runs on |segments| rows. The sum-to-delta identity is pinned by "
    "an invariant test rather than recomputed in-engine.",
)
def op_metric_decomposition(spark, sf_dir):
    from .registry import dec

    o, c = _t(spark, sf_dir, "orders", "customer")
    seg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .where(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("rev"),
        )
    )
    tot = seg.groupBy("yr").agg(F.sum("n").alias("tot_n"))
    j = seg.join(F.broadcast(tot), "yr")
    share = F.col("n").cast("double") / F.col("tot_n").cast("double")
    rate = F.col("rev") / F.col("n").cast("double")
    wide = j.groupBy("segment").agg(
        F.max(F.when(F.col("yr") == 1995, share)).alias("w1"),
        F.max(F.when(F.col("yr") == 1996, share)).alias("w2"),
        F.max(F.when(F.col("yr") == 1995, rate)).alias("r1"),
        F.max(F.when(F.col("yr") == 1996, rate)).alias("r2"),
    )
    mix = (F.col("w2") - F.col("w1")) * F.col("r1")
    rt = F.col("w2") * (F.col("r2") - F.col("r1"))
    return wide.select(
        "segment",
        "w1",
        "w2",
        "r1",
        "r2",
        mix.alias("mix_effect"),
        rt.alias("rate_effect"),
        (mix + rt).alias("contribution"),
    )


# ---------------------------------------------------------------------------
# op_bootstrap_ci — Poisson-bootstrap confidence interval (exact arithmetic)
# ---------------------------------------------------------------------------

_BOOT_B = 32  # bootstrap replicas
# Poisson(1) CDF cut points for the inverse-CDF weight lookup — shared
# double literals on both engines (never recomputed via exp/factorial)
_POIS_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
]


def _pois_case_sql(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < CAST({c} AS DOUBLE) THEN {k}"
        for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


@register(
    "op_bootstrap_ci",
    oracle=f"""
        WITH reps AS (SELECT range AS b FROM range(0, {_BOOT_B})),
        weighted AS (
            SELECT r.b,
                   {_pois_case_sql(
                       "(CAST(('0x' || substr(md5('boot' || CAST(r.b AS VARCHAR)"
                       " || '_' || CAST(o.o_orderkey AS VARCHAR)), 1, 8))"
                       " AS BIGINT) + 1) / CAST(4294967296 AS DOUBLE)"
                   )} AS w,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders o CROSS JOIN reps r
        ),
        means AS (
            SELECT b,
                   CAST(sum(w * p) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
            FROM weighted GROUP BY b
        ),
        ordered AS (SELECT list(m ORDER BY m) AS ms FROM means),
        base AS (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS point_est
            FROM orders
        )
        SELECT base.point_est,
               ms[CAST(ceil(CAST(0.05 AS DOUBLE) * {_BOOT_B}) AS INT)] AS ci_lo,
               ms[CAST(ceil(CAST(0.95 AS DOUBLE) * {_BOOT_B}) AS INT)] AS ci_hi,
               {_BOOT_B} AS n_replicas
        FROM ordered, base
    """,
    doc="Poisson-bootstrap 90% confidence interval for the mean order "
    "value — the published bootstrap for massive data (Chamandy et al., "
    "'Estimating uncertainty for massive data streams', Google 2012): "
    "instead of resampling n rows with replacement (impossible without "
    "a global index), each row enters replica b with an independent "
    "Poisson(1) multiplicity, here drawn DETERMINISTICALLY by inverse "
    "CDF from the md5(replica, key) uniform — reproducible, "
    "shuffle-free, and embarrassingly parallel (each executor weights "
    "its rows locally; one (replica)-keyed aggregation computes all "
    f"{_BOOT_B} replica means in a single pass over the {_BOOT_B}x "
    "fanned-out stream). EVERY value is exact: integer weights times "
    "exact DECIMAL cents sum to exact decimals, replica means are "
    "single exactly-rounded divisions, and the percentile-method CI "
    "picks order statistics via the 1-based ceil(p*B) index rule — "
    "nothing is rounded, both engines bit-agree. The Poisson(1) CDF "
    "cut points are shared double literals (never recomputed via "
    "exp/factorial at runtime). Scale: the fan-out multiplies map-side "
    "work by B but shuffles only B partial sums per partition.",
)
def op_bootstrap_ci(spark, sf_dir):
    from .registry import dec

    o = _t(spark, sf_dir, "orders")
    reps = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot"),
                        F.col("b").cast("string"),
                        F.lit("_"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(float(_POIS_CDF[k])), F.lit(k)).otherwise(w)
    weighted = o.crossJoin(F.broadcast(reps)).select(
        "b", w.alias("w"), dec("o_totalprice").alias("p")
    )
    means = weighted.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("p")).cast("double")
            / F.sum("w").cast("double")
        ).alias("m")
    )
    ordered = means.agg(F.array_sort(F.collect_list("m")).alias("ms"))
    base = o.agg(
        (
            F.sum(dec("o_totalprice")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("point_est")
    )
    import math

    lo_i = math.ceil(0.05 * _BOOT_B)
    hi_i = math.ceil(0.95 * _BOOT_B)
    return base.crossJoin(F.broadcast(ordered)).select(
        "point_est",
        F.element_at("ms", lo_i).alias("ci_lo"),
        F.element_at("ms", hi_i).alias("ci_hi"),
        F.lit(_BOOT_B).alias("n_replicas"),
    )


# ---------------------------------------------------------------------------
# op_skew_report — join-key skew diagnostics (engine-ops meta-analytics)
# ---------------------------------------------------------------------------


@register(
    "op_skew_report",
    oracle="""
        WITH keyed AS (
            SELECT 'l_partkey' AS key_col,
                   CAST(l_partkey AS VARCHAR) AS k FROM lineitem
            UNION ALL
            SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
            UNION ALL
            SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        ),
        freq AS (
            SELECT key_col, k, count(*) AS n FROM keyed GROUP BY 1, 2
        ),
        stats AS (
            SELECT key_col,
                   count(*) AS n_keys,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   max(n) AS max_freq,
                   CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS mean_freq
            FROM freq GROUP BY 1
        ),
        hot AS (
            SELECT key_col, k AS hottest_key, n AS hottest_n
            FROM (SELECT key_col, k, n,
                         row_number() OVER (PARTITION BY key_col
                                            ORDER BY n DESC, k) AS rn
                  FROM freq) WHERE rn = 1
        )
        SELECT s.key_col, s.n_keys, s.n_rows, s.max_freq, s.mean_freq,
               CAST(s.max_freq AS DOUBLE) / s.mean_freq AS skew_factor,
               h.hottest_key, h.hottest_n,
               CASE WHEN CAST(s.max_freq AS DOUBLE) / s.mean_freq
                         > CAST(10 AS DOUBLE)
                    THEN 'salt-or-aqe-skew-join' ELSE 'hash-ok' END
                   AS recommendation
        FROM stats s JOIN hot h ON s.key_col = h.key_col
    """,
    doc="Join-key skew diagnostics — the engine-operations report a "
    "data platform runs BEFORE planning a 100 TB join: per candidate "
    "key, cardinality, row count, hottest-key frequency, and the skew "
    "factor max/mean with a salting/AQE-skew-join recommendation at "
    "the 10x threshold (SCALE.md's own hazard rule, surfaced as a "
    "query). One map-side-combined frequency pass per key (unioned "
    "into a single scan pipeline), metadata-grain stats, hottest key "
    "via a min_by argmax over struct(-n, k) folded into the same "
    "map-side-combinable aggregate (never a data-sized window sort; "
    "ties break to the smallest key, matching the oracle). All outputs "
    "integer-derived (mean/skew are exactly-rounded divisions) — "
    "shipped unrounded. Companion to skew.salted_broadcast_join / "
    "op_skew_two_phase_agg, which this report tells you when to use.",
)
def op_skew_report(spark, sf_dir):
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    keyed = (
        li.select(
            F.lit("l_partkey").alias("key_col"),
            F.col("l_partkey").cast("string").alias("k"),
        )
        .unionAll(
            li.select(
                F.lit("l_suppkey").alias("key_col"),
                F.col("l_suppkey").cast("string").alias("k"),
            )
        )
        .unionAll(
            o.select(
                F.lit("o_custkey").alias("key_col"),
                F.col("o_custkey").cast("string").alias("k"),
            )
        )
    )
    freq = keyed.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("n"))
    # Hottest key via min_by argmax over struct(-n, k) — a map-side
    # combinable aggregate, folded into the SAME groupBy as the stats. The
    # previous window form (row_number over PARTITION BY key_col) put every
    # distinct key of a fact column through 3 data-sized sort partitions —
    # the exact single-partition hazard this report exists to warn about.
    # Total tie order: highest n first, then smallest k (matches the
    # oracle's ORDER BY n DESC, k).
    stats = freq.groupBy("key_col").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_freq"),
        (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_freq"
        ),
        F.min_by(
            F.struct(F.col("k"), F.col("n")),
            F.struct((-F.col("n")).alias("neg_n"), F.col("k").alias("k")),
        ).alias("hot"),
    ).withColumns(
        {
            "hottest_key": F.col("hot.k"),
            "hottest_n": F.col("hot.n"),
        }
    )
    skew = F.col("max_freq").cast("double") / F.col("mean_freq")
    return stats.select(
        "key_col",
        "n_keys",
        "n_rows",
        "max_freq",
        "mean_freq",
        skew.alias("skew_factor"),
        "hottest_key",
        "hottest_n",
        F.when(skew > F.lit(10).cast("double"), "salt-or-aqe-skew-join")
        .otherwise("hash-ok")
        .alias("recommendation"),
    )


# ---------------------------------------------------------------------------
# events_forecast_backtest — rolling-origin evaluation of the Holt model
# ---------------------------------------------------------------------------

_BT_K = 6  # rolling-origin cutoffs (forecast the last K hours one-step-ahead)

_HOLT_FOLD_SQL = """list_reduce(
               list_prepend([ys[1], ys[2] - ys[1]],
                            list_transform(ys[2:c],
                                           x -> [x, CAST(0 AS DOUBLE)])),
               (acc, x) -> [
                   CAST(0.5 AS DOUBLE) * x[1]
                       + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                   CAST(0.3 AS DOUBLE)
                       * (CAST(0.5 AS DOUBLE) * x[1]
                          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]) - acc[1])
                       + CAST(0.7 AS DOUBLE) * acc[2]])"""


@register(
    "events_forecast_backtest",
    oracle=f"""
        WITH hc AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(count(*) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT event_type, list(y ORDER BY h) AS ys,
                   CAST(count(*) AS INT) AS n
            FROM hc GROUP BY 1
        ),
        bt AS (
            SELECT event_type, n,
                   list_transform(
                       list_transform(range(n - {_BT_K}, n),
                                      c -> {_HOLT_FOLD_SQL}),
                       st -> st[1] + st[2]) AS fcs,
                   list_transform(range(n - {_BT_K}, n),
                                  c -> ys[c + 1]) AS actuals,
                   list_transform(range(n - {_BT_K}, n),
                                  c -> ys[c]) AS naives
            FROM series
        )
        SELECT event_type, n AS n_hours,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {_BT_K} + 1),
                                  i -> abs(fcs[i] - actuals[i]))),
                   (a, x) -> a + x) / CAST({_BT_K} AS DOUBLE) AS mae,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {_BT_K} + 1),
                                  i -> abs(fcs[i] - actuals[i]) / actuals[i])),
                   (a, x) -> a + x) / CAST({_BT_K} AS DOUBLE) AS mape,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {_BT_K} + 1),
                                  i -> abs(naives[i] - actuals[i]))),
                   (a, x) -> a + x) / CAST({_BT_K} AS DOUBLE) AS mae_naive
        FROM bt
    """,
    doc="Rolling-origin backtest of the Holt forecaster "
    f"(op_holt_linear): for each of the last {_BT_K} hours, refit on "
    "the strictly-prior prefix and score the one-step-ahead forecast "
    "against the actual — the honest out-of-sample evaluation protocol "
    "(never in-sample residuals), reported as MAE/MAPE next to the "
    "naive last-value baseline's MAE so forecast skill is visible "
    "(skill = 1 - mae/mae_naive, computed by the caller or the "
    "invariant test). Each refit is the identical array-state "
    "sequential fold over a PREFIX SLICE of the hour-sorted series — "
    "nested higher-order functions (transform over cutoffs, aggregate "
    "inside) on both engines, every error an exactly-rounded chain on "
    "bit-identical folds — all outputs ship UNROUNDED. Scale shape: "
    "the refits multiply per-series CPU by K but stay inside one task "
    "per key; no extra shuffle versus the base model.",
)
def events_forecast_backtest(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = hc.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count(F.lit(1)).cast("int").alias("n"),
    )
    a, one_a = F.lit(0.5), F.lit(0.5)
    gm, one_g = F.lit(0.3), F.lit(0.7)

    def holt_state(ys, c):
        init = F.array(
            F.element_at(ys, 1), F.element_at(ys, 2) - F.element_at(ys, 1)
        )
        return F.aggregate(
            F.slice(ys, F.lit(2), c - 1),
            init,
            lambda acc, x: F.array(
                a * x + one_a * (F.element_at(acc, 1) + F.element_at(acc, 2)),
                gm
                * (
                    a * x
                    + one_a * (F.element_at(acc, 1) + F.element_at(acc, 2))
                    - F.element_at(acc, 1)
                )
                + one_g * F.element_at(acc, 2),
            ),
        )

    ys, n = F.col("ys"), F.col("n")
    cuts = F.sequence(n - F.lit(_BT_K), n - F.lit(1))
    bt = series.select(
        "event_type",
        n.alias("n_hours"),
        F.transform(
            F.transform(cuts, lambda c: holt_state(ys, c)),
            lambda st: F.element_at(st, 1) + F.element_at(st, 2),
        ).alias("fcs"),
        F.transform(cuts, lambda c: F.element_at(ys, c + 1)).alias("actuals"),
        F.transform(cuts, lambda c: F.element_at(ys, c)).alias("naives"),
    )

    def fold_mean(arr_expr):
        return F.aggregate(
            arr_expr, F.lit(0.0), lambda acc, x: acc + x
        ) / F.lit(float(_BT_K))

    idx = F.sequence(F.lit(1), F.lit(_BT_K))
    err = F.transform(
        idx,
        lambda i: F.abs(F.element_at("fcs", i) - F.element_at("actuals", i)),
    )
    perr = F.transform(
        idx,
        lambda i: F.abs(F.element_at("fcs", i) - F.element_at("actuals", i))
        / F.element_at("actuals", i),
    )
    nerr = F.transform(
        idx,
        lambda i: F.abs(F.element_at("naives", i) - F.element_at("actuals", i)),
    )
    return bt.select(
        "event_type",
        "n_hours",
        fold_mean(err).alias("mae"),
        fold_mean(perr).alias("mape"),
        fold_mean(nerr).alias("mae_naive"),
    )


# ---------------------------------------------------------------------------
# op_neyman_allocation — optimal stratified-sampling allocation
# ---------------------------------------------------------------------------

_NEYMAN_N = 100  # total sample budget to allocate


@register(
    "op_neyman_allocation",
    oracle=f"""
        WITH st AS (
            SELECT c_mktsegment AS stratum,
                   count(*) AS n_h,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS s1,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))
                            * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS s2
            FROM customer GROUP BY 1
        ),
        sd AS (
            SELECT stratum, n_h,
                   s1 / CAST(n_h AS DOUBLE) AS mean_bal,
                   round(sqrt((s2 - s1 * s1 / CAST(n_h AS DOUBLE))
                              / CAST(n_h - 1 AS DOUBLE)), 4) AS sd_bal
            FROM st
        ),
        tot AS (SELECT sum(CAST(n_h AS DOUBLE) * sd_bal) AS z FROM sd)
        SELECT stratum, n_h, mean_bal, sd_bal,
               round(CAST(n_h AS DOUBLE) * sd_bal / z, 6) AS alloc_share,
               round(CAST({_NEYMAN_N} AS DOUBLE)
                     * round(CAST(n_h AS DOUBLE) * sd_bal / z, 6), 2)
                   AS n_alloc
        FROM sd, tot
    """,
    doc="Neyman-optimal stratified sampling allocation (Neyman 1934): "
    f"distribute a {_NEYMAN_N}-row sample budget across market-segment "
    "strata proportionally to N_h * S_h — the allocation that minimizes "
    "the stratified-mean variance, the statistical front door to "
    "op_stratified_sample (which takes rates this query produces). "
    "Per-stratum sums and sums-of-squares accumulate as exact DECIMALs "
    "(acctbal is 2 dp, its square exactly 4 dp) in ONE "
    "map-side-combined scan; the sd is the only value whose "
    "decimal->double cast can exceed the 2^53 exact range, so it is "
    "ROUNDED to 4 dp (the NOTES_r3 decimal-cast insurance rule) before "
    "the allocation arithmetic, making every downstream share "
    "deterministic; shares round to 6 dp and continuous allocations to "
    "2. Scale: one scan, five output rows, no joins beyond the "
    "broadcast scalar.",
)
def op_neyman_allocation(spark, sf_dir):
    from .registry import dec

    c = _t(spark, sf_dir, "customer")
    st = c.groupBy(F.col("c_mktsegment").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(dec("c_acctbal")).cast("double").alias("s1"),
        F.sum(dec("c_acctbal") * dec("c_acctbal")).cast("double").alias("s2"),
    )
    sd = st.select(
        "stratum",
        "n_h",
        (F.col("s1") / F.col("n_h").cast("double")).alias("mean_bal"),
        F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h").cast("double"))
                / (F.col("n_h") - 1).cast("double")
            ),
            4,
        ).alias("sd_bal"),
    )
    tot = sd.agg(
        F.sum(F.col("n_h").cast("double") * F.col("sd_bal")).alias("z")
    )
    share = F.round(
        F.col("n_h").cast("double") * F.col("sd_bal") / F.col("z"), 6
    )
    return sd.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        "mean_bal",
        "sd_bal",
        share.alias("alloc_share"),
        F.round(F.lit(float(_NEYMAN_N)) * share, 2).alias("n_alloc"),
    )


# ---------------------------------------------------------------------------
# op_join_size_estimate — planner-style join cardinality from key histograms
# ---------------------------------------------------------------------------


@register(
    "op_join_size_estimate",
    oracle="""
        WITH lo AS (
            SELECT 'lineitem*orders@orderkey' AS join_name,
                   sum(a.n * b.n) AS est_rows
            FROM (SELECT l_orderkey AS k, count(*) AS n
                  FROM lineitem GROUP BY 1) a
            JOIN (SELECT o_orderkey AS k, count(*) AS n
                  FROM orders GROUP BY 1) b ON a.k = b.k
        ),
        oc AS (
            SELECT 'orders*customer@custkey' AS join_name,
                   sum(a.n * b.n) AS est_rows
            FROM (SELECT o_custkey AS k, count(*) AS n
                  FROM orders GROUP BY 1) a
            JOIN (SELECT c_custkey AS k, count(*) AS n
                  FROM customer GROUP BY 1) b ON a.k = b.k
        ),
        ll AS (
            SELECT 'lineitem*lineitem@partkey' AS join_name,
                   sum(a.n * a.n) AS est_rows
            FROM (SELECT l_partkey AS k, count(*) AS n
                  FROM lineitem GROUP BY 1) a
        ),
        actuals AS (
            SELECT 'lineitem*orders@orderkey' AS join_name,
                   (SELECT count(*) FROM lineitem l
                    JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual_rows
            UNION ALL
            SELECT 'orders*customer@custkey',
                   (SELECT count(*) FROM orders o
                    JOIN customer c ON o.o_custkey = c.c_custkey)
            UNION ALL
            SELECT 'lineitem*lineitem@partkey', NULL
        )
        SELECT e.join_name, CAST(e.est_rows AS BIGINT) AS est_rows,
               a.actual_rows,
               e.est_rows = a.actual_rows AS exact_match
        FROM (SELECT * FROM lo UNION ALL SELECT * FROM oc
              UNION ALL SELECT * FROM ll) e
        JOIN actuals a ON e.join_name = a.join_name
    """,
    doc="Planner-style join cardinality estimation from per-key "
    "frequency histograms: |A JOIN B on k| = sum_k fA(k) * fB(k), "
    "computed by joining the two (key, count) histograms — the "
    "statistics pass a cost-based optimizer (or a human sizing a "
    "100 TB join) runs INSTEAD of executing the join. For the two FK "
    "joins the estimate is provably exact and the actual count rides "
    "along as the cross-check (exact_match must be true); the "
    "part-key self-join row ships estimate-only (its actual is "
    "O(est) = avg_freq^2 * |keys| rows — the point of estimating "
    "first). Histograms are map-side-combined; the histogram join is "
    "keyed and orders smaller than the data join it predicts. "
    "Companion to op_skew_report (which flags WHERE the estimate's "
    "mass concentrates).",
)
def op_join_size_estimate(spark, sf_dir):
    li, o, c = _t(spark, sf_dir, "lineitem", "orders", "customer")

    def hist(df, key):
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )

    def est(name, ha, hb):
        a = ha.select("k", F.col("n").alias("na"))
        b = hb.select("k", F.col("n").alias("nb"))
        return (
            a.join(b, "k")
            .agg(F.sum(F.col("na") * F.col("nb")).alias("est_rows"))
            .select(F.lit(name).alias("join_name"), "est_rows")
        )

    hl = hist(li, "l_orderkey")
    ho = hist(o, "o_orderkey")
    hoc = hist(o, "o_custkey")
    hc = hist(c, "c_custkey")
    hp = hist(li, "l_partkey")
    lo = est("lineitem*orders@orderkey", hl, ho)
    oc = est("orders*customer@custkey", hoc, hc)
    ll = hp.agg(F.sum(F.col("n") * F.col("n")).alias("est_rows")).select(
        F.lit("lineitem*lineitem@partkey").alias("join_name"), "est_rows"
    )
    # the two cross-check counts are independent jobs — submit them from
    # two driver threads so the second back-fills the first's task tail
    # (guide §2.6 overlap independent jobs); results are unchanged
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(li.join(o, li["l_orderkey"] == o["o_orderkey"]).count)
        f2 = pool.submit(o.join(c, o["o_custkey"] == c["c_custkey"]).count)
        a1, a2 = f1.result(), f2.result()
    actuals = [
        ("lineitem*orders@orderkey", a1),
        ("orders*customer@custkey", a2),
        ("lineitem*lineitem@partkey", None),
    ]
    act = local_frame(spark, actuals, "join_name string, actual_rows long")
    return (
        lo.unionAll(oc)
        .unionAll(ll)
        .join(F.broadcast(act), "join_name")
        .select(
            "join_name",
            "est_rows",
            "actual_rows",
            (F.col("est_rows") == F.col("actual_rows")).alias("exact_match"),
        )
    )


# ---------------------------------------------------------------------------
# q_gdpr_erasure — right-to-be-forgotten impact report with proof digest
# ---------------------------------------------------------------------------


@register(
    "q_gdpr_erasure",
    oracle="""
        WITH targets AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        ),
        cust AS (
            SELECT 'customer' AS table_name,
                   count(*) AS n_rows_to_erase,
                   md5(string_agg(CAST(c_custkey AS VARCHAR), ','
                                  ORDER BY CAST(c_custkey AS VARCHAR)))
                       AS keys_digest
            FROM targets
        ),
        ords AS (
            SELECT 'orders' AS table_name,
                   count(*) AS n_rows_to_erase,
                   md5(string_agg(CAST(o_orderkey AS VARCHAR), ','
                                  ORDER BY CAST(o_orderkey AS VARCHAR)))
                       AS keys_digest
            FROM orders JOIN targets ON o_custkey = c_custkey
        ),
        items AS (
            SELECT 'lineitem' AS table_name,
                   count(*) AS n_rows_to_erase,
                   md5(string_agg(CAST(l_orderkey AS VARCHAR) || '-'
                                  || CAST(l_linenumber AS VARCHAR), ','
                                  ORDER BY CAST(l_orderkey AS VARCHAR) || '-'
                                           || CAST(l_linenumber AS VARCHAR)))
                       AS keys_digest
            FROM lineitem
            JOIN (SELECT o_orderkey FROM orders
                  JOIN targets ON o_custkey = c_custkey) k
              ON l_orderkey = k.o_orderkey
        )
        SELECT * FROM cust
        UNION ALL SELECT * FROM ords
        UNION ALL SELECT * FROM items
    """,
    doc="GDPR right-to-be-forgotten impact report: for a deterministic "
    "erasure cohort (c_custkey % 97 = 0 stands in for the request "
    "list), the cascade footprint across customer -> orders -> "
    "lineitem with per-table row counts and an md5 PROOF DIGEST over "
    "the ordered key list — the auditable artifact a compliance "
    "pipeline files before and after executing the physical delete "
    "(the delete itself is operators/dml.cascade_delete, r2-green; "
    "this is its read-only planning/verification face). Digests use "
    "the engine-portable sorted string_agg || md5 idiom — both engines "
    "order the STRING form of the key (Spark array_sort on strings is "
    "lexicographic; the oracle's ORDER BY casts to VARCHAR to match). Scale: the target list broadcasts; "
    "each cascade level is one semi-join + one combiner-collapsed "
    "aggregate — the digest shuffles keys, never row payloads.",
)
def q_gdpr_erasure(spark, sf_dir):
    c, o, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    targets = c.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    targets = fence.checkpoint(targets)  # read by all 3 levels

    def digest(df, key_expr, name):
        return df.select(key_expr.alias("kk")).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows_to_erase"),
            F.md5(F.concat_ws(",", F.array_sort(F.collect_list("kk")))).alias(
                "keys_digest"
            ),
        ).select("table_name", "n_rows_to_erase", "keys_digest")

    cust = digest(targets, F.col("c_custkey").cast("string"), "customer")
    t_o = o.join(
        F.broadcast(targets), o["o_custkey"] == targets["c_custkey"]
    )
    ords = digest(t_o, F.col("o_orderkey").cast("string"), "orders")
    keys = t_o.select("o_orderkey")
    t_li = li.join(
        F.broadcast(keys), li["l_orderkey"] == keys["o_orderkey"]
    )
    items = digest(
        t_li,
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ),
        "lineitem",
    )
    return cust.unionAll(ords).unionAll(items)


# ---------------------------------------------------------------------------
# op_gains_chart — decile gains / lift analysis (model-targeting evaluation)
# ---------------------------------------------------------------------------


@register(
    "op_gains_chart",
    oracle="""
        WITH spend AS (
            SELECT c.c_custkey,
                   coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))),
                            CAST(0 AS DECIMAL(18,2))) AS s
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1
        ),
        resp AS (
            SELECT DISTINCT o_custkey AS c_custkey
            FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        ),
        scored AS (
            SELECT s.c_custkey,
                   ntile(10) OVER (ORDER BY s.s DESC, s.c_custkey) AS decile,
                   CASE WHEN r.c_custkey IS NULL THEN 0 ELSE 1 END AS y
            FROM spend s LEFT JOIN resp r ON s.c_custkey = r.c_custkey
        ),
        cells AS (
            SELECT decile, count(*) AS n_customers,
                   sum(y) AS n_responders
            FROM scored GROUP BY 1
        ),
        tot AS (
            SELECT sum(n_customers) AS nc, sum(n_responders) AS nr FROM cells
        )
        SELECT decile, n_customers,
               CAST(n_responders AS BIGINT) AS n_responders,
               CAST(n_responders AS DOUBLE) / CAST(n_customers AS DOUBLE)
                   AS response_rate,
               CAST(sum(n_responders) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / CAST(tot.nr AS DOUBLE) AS cum_gain,
               (CAST(n_responders AS DOUBLE) / CAST(n_customers AS DOUBLE))
                   / (CAST(tot.nr AS DOUBLE) / CAST(tot.nc AS DOUBLE)) AS lift
        FROM cells, tot
    """,
    doc="Decile gains chart / lift table — the model-targeting "
    "evaluation: customers ranked by lifetime spend (the 'score'), cut "
    "into deciles by the two-phase global_ntile (no single-partition "
    "data pass), responders = customers still ordering in the final "
    "corpus year; per decile the response rate, cumulative gain (share "
    "of all responders captured by deciles 1..k) and lift over the "
    "base rate. Spend accumulates as exact DECIMAL; every reported "
    "value is an integer-derived exactly-rounded division chain — "
    "shipped UNROUNDED. The final cumulative window runs over exactly "
    "10 metadata rows (documented exception to the no-global-window "
    "rule — same class as global_ntile's own scalar exchange). The "
    "campaign-targeting / model-validation primitive on top of "
    "op_rfm_segmentation's scores.",
)
def op_gains_chart(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.ranking import global_ntile
    from .registry import dec

    c, o = _t(spark, sf_dir, "customer", "orders")
    spend = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"].alias("ck"))
        .agg(
            F.coalesce(
                F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)")
            ).alias("s")
        )
    )
    resp = (
        o.where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
        .withColumn("y", F.lit(1))
    )
    scored = (
        spend.join(resp, "ck", "left")
        .select("ck", "s", F.coalesce("y", F.lit(0)).alias("y"))
    )
    tiled = global_ntile(scored, 10, ["s", "ck"], "decile", descending=True)
    # NOTE: global_ntile orders every column under one descending flag; the
    # (spend DESC, custkey DESC) tie order is total, so decile cuts remain
    # engine-deterministic — the oracle mirrors it with (s DESC, ck DESC).
    cells = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("y").alias("n_responders"),
    )
    # fence (r11 opt): cells (10 rows) feeds both the totals aggregate and
    # the output stream; unfenced, the whole spend-join + global_ntile
    # two-phase pipeline executed TWICE (before-plan: 72 exchanges /
    # 63 scans vs ~half after)
    cells = fence.checkpoint(cells, eager=False)
    tot = cells.agg(
        F.sum("n_customers").alias("nc"), F.sum("n_responders").alias("nr")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rate = F.col("n_responders").cast("double") / F.col("n_customers").cast(
        "double"
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "n_responders",
        rate.alias("response_rate"),
        (
            F.sum("n_responders").over(w).cast("double")
            / F.col("nr").cast("double")
        ).alias("cum_gain"),
        (
            rate / (F.col("nr").cast("double") / F.col("nc").cast("double"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# op_shard_plan — balanced output-shard planning for corpus export
# ---------------------------------------------------------------------------

_SHARD_BYTES = 8 * 1024  # target shard size (chars as byte proxy)


@register(
    "op_shard_plan",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id, n_chars,
                   CASE WHEN CAST(('0x' || substr(md5('doc'
                                  || CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST(('0x' || substr(md5('doc'
                                  || CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 100 < 90 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents
        ),
        cum AS (
            SELECT split, doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY split, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS gcum
            FROM tagged
        ),
        offs AS (
            SELECT split, min(gcum) - min_chars AS off FROM (
                SELECT split, gcum,
                       first_value(n_chars) OVER (PARTITION BY split
                           ORDER BY doc_id) AS min_chars
                FROM cum) GROUP BY split, min_chars
        ),
        sharded AS (
            SELECT c.split, c.doc_id, c.n_chars,
                   (c.gcum - o.off - 1) // {_SHARD_BYTES} AS shard_id
            FROM cum c JOIN offs o ON c.split = o.split
        )
        SELECT split, CAST(shard_id AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM sharded GROUP BY 1, 2
    """,
    doc="Balanced output-shard planning for corpus export — the step "
    "before writing a training dataset as fixed-size files (TFRecord/"
    "WebDataset shards): documents are bucketed into their md5 "
    "train/valid/test split (op_hash_split's exact rule), laid out in "
    "the (split, doc_id) total order, and cut into ~8 KiB shards (sized for the ~150 KiB test corpus; a real export sets 100 MB+) by "
    "integer division of the running byte total. The running total is "
    "ONE two-phase global_cumsum over the whole corpus; per-split "
    "offsets (sum of all prior splits' bytes) come from a 3-row "
    "broadcast join, so shard numbering restarts per split without a "
    "per-group sort. Everything is exact integer arithmetic. At 100 TB "
    "this is the planner that makes every output file the same size "
    "regardless of document-length skew — the alternative (fixed "
    "docs-per-file) produces 100:1 file-size spread on web corpora.",
)
def op_shard_plan(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    tagged = d.select("doc_id", "n_chars", split.alias("split"))
    cum = global_cumsum(tagged, ["split", "doc_id"], "n_chars", "gcum")
    cum = fence.checkpoint(cum)  # offsets + sharding both read it
    offs = cum.groupBy("split").agg(
        (F.min("gcum") - F.min_by("n_chars", "gcum")).alias("off")
    )
    sharded = cum.join(F.broadcast(offs), "split").select(
        "split",
        "doc_id",
        "n_chars",
        F.expr(f"(gcum - off - 1) div {_SHARD_BYTES}").alias("shard_id"),
    )
    return sharded.groupBy("split", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# events_shapley_attribution — exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

# Subset containment T ⊆ S over 4-bit masks, written with div/% only so the
# identical predicate parses on both engines (no & operator mismatch)
_SUBSET_SQL = " AND ".join(
    f"((t.mask // {1 << k}) % 2) <= ((s.s // {1 << k}) % 2)" for k in range(4)
)


@register(
    "events_shapley_attribution",
    oracle=f"""
        WITH fp AS (
            SELECT user_id, min(ts) AS p_ts
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        touched AS (
            SELECT e.user_id,
                   CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                        WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS bit
            FROM events e JOIN fp ON e.user_id = fp.user_id
            WHERE e.ts < fp.p_ts AND e.event_type <> 'purchase'
            GROUP BY 1, 2
        ),
        masks AS (
            SELECT fp.user_id, coalesce(sum(t.bit), 0) AS mask
            FROM fp LEFT JOIN touched t ON fp.user_id = t.user_id
            GROUP BY 1
        ),
        cnt AS (SELECT mask, count(*) AS c FROM masks GROUP BY 1),
        subsets AS (SELECT range AS s FROM range(0, 16)),
        v AS (
            SELECT s.s AS s, coalesce(sum(t.c), 0) AS v
            FROM subsets s LEFT JOIN cnt t ON {_SUBSET_SQL}
            GROUP BY 1
        ),
        channels AS (
            SELECT 'click' AS channel, 1 AS bit UNION ALL
            SELECT 'error', 2 UNION ALL
            SELECT 'signup', 4 UNION ALL
            SELECT 'view', 8
        ),
        terms AS (
            SELECT ch.channel,
                   CASE ((v0.s // 1) % 2) + ((v0.s // 2) % 2)
                        + ((v0.s // 4) % 2) + ((v0.s // 8) % 2)
                        WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
                       * (v1.v - v0.v) AS w_dv
            FROM channels ch
            JOIN v v0 ON ((v0.s // ch.bit) % 2) = 0
            JOIN v v1 ON v1.s = v0.s + ch.bit
        )
        SELECT channel,
               CAST(sum(w_dv) AS DOUBLE) / CAST(24 AS DOUBLE) AS shapley
        FROM terms GROUP BY 1
    """,
    doc="Exact Shapley-value marketing attribution over the four "
    "pre-purchase channels (click/error/signup/view): each converting "
    "user contributes their SET of channel types touched strictly "
    "before first purchase; the coalition value v(S) counts conversions "
    "reachable with channels in S (sum over touched-sets T ⊆ S), and "
    "each channel's credit is the exact Shapley average of its marginal "
    "contributions over all 2^4 coalitions — the game-theoretic "
    "multi-touch model that last-touch/linear attribution "
    "(events_attribution) approximates. EVERYTHING is integer "
    "arithmetic: 24x the Shapley weights are the integers {6,2,2,6}, "
    "so each credit is one exact BIGINT sum divided once by 24 — "
    "bit-identical unrounded. The coalition lattice is 16 rows; subset "
    "containment is a div-mod bit predicate (no engine-specific & "
    "operator). Scale: users collapse map-side to 16 mask counts; the "
    "lattice work is constant regardless of data volume.",
)
def events_shapley_attribution(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    fp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
    )
    touched = (
        e.join(fp, "user_id")
        .where((F.col("ts") < F.col("p_ts")) & (F.col("event_type") != "purchase"))
        .select("user_id", bit.alias("bit"))
        .distinct()
    )
    masks = (
        fp.join(touched, "user_id", "left")
        .groupBy("user_id")
        .agg(F.coalesce(F.sum("bit"), F.lit(0)).alias("mask"))
    )
    cnt = masks.groupBy("mask").agg(F.count(F.lit(1)).alias("c"))
    subsets = spark.range(16).select(F.col("id").alias("s"))
    contain = None
    for k in range(4):
        term = ((F.col("mask") / (1 << k)).cast("long") % 2) <= (
            (F.col("s") / (1 << k)).cast("long") % 2
        )
        contain = term if contain is None else (contain & term)
    # NOTE: integer "//" — Spark Columns have no floor-div operator; for
    # non-negative ints cast-after-true-divide equals div (NOTES_r3 idiom)
    v = (
        subsets.join(F.broadcast(cnt), contain, "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v"))
    )
    v = fence.checkpoint(v)  # both sides of the marginal join
    channels = local_frame(
        spark,
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit int",
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("va"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vb"))
    pairs = (
        channels.crossJoin(v0)
        .where(((F.col("s0") / F.col("bit")).cast("long") % 2) == 0)
        .join(v1, F.col("s1") == F.col("s0") + F.col("bit"))
    )
    popcnt = sum(
        (F.col("s0") / (1 << k)).cast("long") % 2 for k in range(4)
    )
    w24 = (
        F.when(popcnt == 0, 6)
        .when(popcnt == 1, 2)
        .when(popcnt == 2, 2)
        .otherwise(6)
    )
    return (
        pairs.select("channel", (w24 * (F.col("vb") - F.col("va"))).alias("w_dv"))
        .groupBy("channel")
        .agg(
            (F.sum("w_dv").cast("double") / F.lit(24).cast("double")).alias(
                "shapley"
            )
        )
    )


# ---------------------------------------------------------------------------
# op_diff_in_diff — difference-in-differences estimator
# ---------------------------------------------------------------------------


@register(
    "op_diff_in_diff",
    oracle="""
        WITH cells AS (
            SELECT o_custkey % 2 AS grp,
                   CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END
                       AS period,
                   count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS rev
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1, 2
        ),
        wide AS (
            SELECT
                max(CASE WHEN grp = 1 AND period = 0
                    THEN rev / CAST(n AS DOUBLE) END) AS t_pre,
                max(CASE WHEN grp = 1 AND period = 1
                    THEN rev / CAST(n AS DOUBLE) END) AS t_post,
                max(CASE WHEN grp = 0 AND period = 0
                    THEN rev / CAST(n AS DOUBLE) END) AS c_pre,
                max(CASE WHEN grp = 0 AND period = 1
                    THEN rev / CAST(n AS DOUBLE) END) AS c_post,
                sum(n) AS n_orders
            FROM cells
        )
        SELECT t_pre AS treat_pre, t_post AS treat_post,
               c_pre AS control_pre, c_post AS control_post,
               (t_post - t_pre) - (c_post - c_pre) AS did_estimate,
               CAST(n_orders AS BIGINT) AS n_orders
        FROM wide
    """,
    doc="Difference-in-differences estimator: the average order value "
    "change from 1995 to 1996 for the 'treated' group (odd customer "
    "keys — the deterministic split shared with op_ab_test_welch), "
    "minus the same change for the control group — the quasi-"
    "experimental causal primitive that nets out common time trends. "
    "One conditional-aggregation scan over two years of the order book "
    "(four cells); means divide an exact DECIMAL cents sum by an "
    "integer, and the double-difference is a fixed-order exactly-"
    "rounded chain — every output ships UNROUNDED. Scale: a single "
    "map-side-combined aggregate with a year pushdown filter.",
)
def op_diff_in_diff(spark, sf_dir):
    from .registry import dec

    o = _t(spark, sf_dir, "orders")
    cells = (
        # raw-column range, not year() IN (...): a function over the column
        # defeats parquet predicate pushdown; the range reaches the scan
        o.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .groupBy(
            (F.col("o_custkey") % 2).alias("grp"),
            F.when(F.year("o_orderdate") == 1996, 1).otherwise(0).alias("period"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("rev"),
        )
    )
    mean = F.col("rev") / F.col("n").cast("double")

    def cell(g, p):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), mean)
        )

    wide = cells.agg(
        cell(1, 0).alias("treat_pre"),
        cell(1, 1).alias("treat_post"),
        cell(0, 0).alias("control_pre"),
        cell(0, 1).alias("control_post"),
        F.sum("n").alias("n_orders"),
    )
    return wide.select(
        "treat_pre",
        "treat_post",
        "control_pre",
        "control_post",
        (
            (F.col("treat_post") - F.col("treat_pre"))
            - (F.col("control_post") - F.col("control_pre"))
        ).alias("did_estimate"),
        "n_orders",
    )


# ---------------------------------------------------------------------------
# op_cuped — CUPED variance reduction for experiment metrics
# ---------------------------------------------------------------------------


@register(
    "op_cuped",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, c.c_custkey % 2 AS grp,
                   CAST(coalesce(sum(CASE WHEN year(o.o_orderdate) <= 1997
                       THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END),
                       CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS x,
                   CAST(coalesce(sum(CASE WHEN year(o.o_orderdate) >= 1998
                       THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END),
                       CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        mom AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy,
                   sum(y * y) AS syy
            FROM per_cust
        ),
        theta AS (
            SELECT n, sx / CAST(n AS DOUBLE) AS mx,
                   round((sxy - sx * sy / CAST(n AS DOUBLE))
                         / (sxx - sx * sx / CAST(n AS DOUBLE)), 6) AS th,
                   round((syy - sy * sy / CAST(n AS DOUBLE))
                         / CAST(n - 1 AS DOUBLE), 2) AS var_y,
                   round((sxy - sx * sy / CAST(n AS DOUBLE))
                             / CAST(n - 1 AS DOUBLE)
                         / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                                / CAST(n - 1 AS DOUBLE))
                         / sqrt((syy - sy * sy / CAST(n AS DOUBLE))
                                / CAST(n - 1 AS DOUBLE)), 6) AS rho
            FROM mom
        ),
        adj AS (
            SELECT p.grp, count(*) AS n_grp,
                   round(sum(p.y) / CAST(count(*) AS DOUBLE), 4) AS mean_y,
                   round(sum(p.y - t.th * (p.x - t.mx))
                         / CAST(count(*) AS DOUBLE), 4) AS mean_y_cuped,
                   max(t.th) AS theta,
                   max(round(t.rho * t.rho, 6)) AS var_reduction
            FROM per_cust p, theta t
            GROUP BY 1
        )
        SELECT grp, n_grp, mean_y, mean_y_cuped, theta, var_reduction
        FROM adj
    """,
    doc="CUPED variance reduction (Deng et al. 2013, 'Improving the "
    "sensitivity of online controlled experiments') for the A/B spend "
    "metric: the post-period outcome y (1998+) is adjusted by the "
    "pre-period covariate x (<= 1997) as y - theta*(x - mean_x) with "
    "theta = cov(x,y)/var(x), shrinking metric variance by rho^2 "
    "(reported) while leaving the treatment contrast unbiased — the "
    "standard trick that makes small experiment effects detectable. "
    "Moments accumulate as DOUBLE sums of exactly-decimal-derived "
    "per-customer totals; because x*y products push the exact-integer "
    "range past 2^53, theta/rho/means are ROUNDED (6/6/4 dp — the "
    "decimal-cast insurance rule) and theta is rounded BEFORE the "
    "adjustment so both engines adjust with the identical coefficient. "
    "Scale: one customer-grain aggregate, one six-number moment "
    "reduce, one broadcast of theta back over the per-customer grain.",
)
def op_cuped(spark, sf_dir):
    from .registry import dec

    c, o = _t(spark, sf_dir, "customer", "orders")
    pre = F.when(F.year("o_orderdate") <= 1997, dec("o_totalprice"))
    post = F.when(F.year("o_orderdate") >= 1998, dec("o_totalprice"))
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"], (c["c_custkey"] % 2).alias("grp"))
        .agg(
            F.coalesce(F.sum(pre), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("x"),
            F.coalesce(F.sum(post), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("y"),
        )
    )
    per_cust = fence.checkpoint(per_cust)  # moments + adjust reads
    mom = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    vary = F.col("syy") - F.col("sy") * F.col("sy") / nd
    nm1 = (F.col("n") - 1).cast("double")
    theta = mom.select(
        "n",
        (F.col("sx") / nd).alias("mx"),
        F.round(cov / varx, 6).alias("th"),
        F.round(vary / nm1, 2).alias("var_y"),
        F.round(
            cov / nm1 / F.sqrt(varx / nm1) / F.sqrt(vary / nm1), 6
        ).alias("rho"),
    )
    adj = per_cust.crossJoin(F.broadcast(theta)).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_grp"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 4).alias(
            "mean_y"
        ),
        F.round(
            F.sum(F.col("y") - F.col("th") * (F.col("x") - F.col("mx")))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("mean_y_cuped"),
        F.max("th").alias("theta"),
        F.max(F.round(F.col("rho") * F.col("rho"), 6)).alias("var_reduction"),
    )
    return adj.select(
        "grp", "n_grp", "mean_y", "mean_y_cuped", "theta", "var_reduction"
    )


# ---------------------------------------------------------------------------
# op_kmv_distinct — k-minimum-values distinct-count sketch (exact replica)
# ---------------------------------------------------------------------------

_KMV_K = 64


@register(
    "op_kmv_distinct",
    oracle=f"""
        WITH keys AS (
            SELECT DISTINCT 'event' AS metric,
                   CAST(event_id AS VARCHAR) AS k FROM events
            UNION ALL
            SELECT DISTINCT 'user_type',
                   CAST(user_id AS VARCHAR) || ':' || event_type FROM events
            UNION ALL
            SELECT DISTINCT 'user', CAST(user_id AS VARCHAR) FROM events
        ),
        hashed AS (
            SELECT metric, k,
                   (CAST(('0x' || substr(md5('kmv' || k), 1, 8)) AS BIGINT)
                    + 1) / CAST(4294967296 AS DOUBLE) AS u
            FROM keys
        ),
        ranked AS (
            SELECT metric, u,
                   row_number() OVER (PARTITION BY metric
                                      ORDER BY u, k) AS rn,
                   count(*) OVER (PARTITION BY metric) AS n_true
            FROM hashed
        )
        SELECT metric, n_true,
               CASE WHEN n_true < {_KMV_K}
                    THEN CAST(n_true AS DOUBLE)
                    ELSE CAST({_KMV_K} - 1 AS DOUBLE) / max(
                         CASE WHEN rn = {_KMV_K} THEN u END) END AS est,
               CASE WHEN n_true < {_KMV_K} THEN true ELSE false END
                   AS exact_branch
        FROM ranked
        GROUP BY metric, n_true
    """,
    doc="K-minimum-values (KMV / bottom-k) distinct-count sketch, "
    f"k = {_KMV_K}: hash every key to a uniform in (0,1] (the portable "
    "md5-first-32-bits idiom) and estimate distinct = (k-1) / u_(k), "
    "the k-th smallest hash — the mergeable bottom-k sketch behind "
    "Theta sketches, here replayed EXACTLY by the oracle (unlike HLL, "
    "whose oracle checks an error envelope — op_approx_count_distinct) "
    "because the estimator is a pure function of the deterministic "
    "hash. Three metrics sketch three cardinality regimes (event ids, "
    "(user, type) pairs, users); below k the sketch degenerates to the "
    "exact count on both engines (exact_branch flags it). The true "
    "count rides along so the estimate's error is externally visible. "
    "Scale note: the per-metric rank runs as a partitioned window "
    "here (oracle-replayable form); the production form keeps the k "
    "smallest per partition and merges k-sized lists — same estimate, "
    "documented swap, state bounded by k regardless of volume.",
)
def op_kmv_distinct(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    keys = (
        e.select(
            F.lit("event").alias("metric"),
            F.col("event_id").cast("string").alias("k"),
        )
        .distinct()
        .unionAll(
            e.select(
                F.lit("user_type").alias("metric"),
                F.concat(
                    F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")
                ).alias("k"),
            ).distinct()
        )
        .unionAll(
            e.select(
                F.lit("user").alias("metric"),
                F.col("user_id").cast("string").alias("k"),
            ).distinct()
        )
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("kmv"), F.col("k"))), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    hashed = keys.select("metric", "k", u.alias("u"))
    w = Window.partitionBy("metric").orderBy("u", "k")
    wc = Window.partitionBy("metric")
    ranked = hashed.select(
        "metric",
        "u",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_true"),
    )
    est = F.when(
        F.col("n_true") < _KMV_K, F.col("n_true").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        / F.max(F.when(F.col("rn") == _KMV_K, F.col("u")))
    )
    return ranked.groupBy("metric", "n_true").agg(
        est.alias("est"),
        F.when(F.col("n_true") < _KMV_K, F.lit(True))
        .otherwise(F.lit(False))
        .alias("exact_branch"),
    )


# ---------------------------------------------------------------------------
# op_winsorized_mean — robust segment spend (5/95 winsorization)
# ---------------------------------------------------------------------------


@register(
    "op_winsorized_mean",
    oracle="""
        WITH j AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS p,
                   o.o_orderkey AS ok
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        ranked AS (
            SELECT segment, p, ok,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY p, ok) AS rn,
                   count(*) OVER (PARTITION BY segment) AS n
            FROM j
        ),
        cuts AS (
            SELECT segment, n,
                   max(CASE WHEN rn = CAST(ceil(CAST(0.05 AS DOUBLE)
                       * CAST(n AS DOUBLE)) AS BIGINT) THEN p END) AS lo,
                   max(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DOUBLE)
                       * CAST(n AS DOUBLE)) AS BIGINT) THEN p END) AS hi
            FROM ranked GROUP BY 1, 2
        )
        SELECT r.segment, c.n AS n_orders,
               round(CAST(c.lo AS DOUBLE), 2) AS lo_cut,
               round(CAST(c.hi AS DOUBLE), 2) AS hi_cut,
               CAST(sum(r.p) AS DOUBLE) / CAST(c.n AS DOUBLE) AS raw_mean,
               CAST(sum(CASE WHEN r.p < c.lo THEN c.lo
                             WHEN r.p > c.hi THEN c.hi
                             ELSE r.p END) AS DOUBLE)
                   / CAST(c.n AS DOUBLE) AS winsorized_mean
        FROM ranked r JOIN cuts c ON r.segment = c.segment
        GROUP BY 1, 2, 3, 4
    """,
    doc="Winsorized segment spend (5th/95th percentile clamping) next "
    "to the raw mean — the robust-metric primitive for outlier-heavy "
    "revenue data (one whale order no longer moves the segment KPI). "
    "Cut points are exact ORDER STATISTICS selected by the engine-"
    "portable 1-based ceil(p*n) index rule (IEEE double multiply, the "
    "repo's percentile-oracle discipline) over a (segment)-partitioned "
    "row numbering with the (price, orderkey) total tie order; clamped "
    "values stay exact DECIMAL cents so both means are single "
    "exactly-rounded divisions of exact sums — shipped unrounded (cut "
    "points go through the fin(2)-identity projection). Scale note: "
    "per-segment sort within a partition — the documented "
    "exact-percentile shape (op_percentiles); swap to approx_percentile "
    "cuts at 100 TB, same query surface.",
)
def op_winsorized_mean(spark, sf_dir):
    from pyspark.sql import Window

    from .registry import dec

    o, c = _t(spark, sf_dir, "orders", "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        dec("o_totalprice").alias("p"),
        F.col("o_orderkey").alias("ok"),
    )
    w = Window.partitionBy("segment").orderBy("p", "ok")
    wc = Window.partitionBy("segment")
    ranked = j.select(
        "segment",
        "p",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    ranked = fence.checkpoint(ranked)  # cuts + clamp both read it
    idx = lambda p: F.ceil(F.lit(p) * F.col("n").cast("double"))  # noqa: E731
    cuts = ranked.groupBy("segment", "n").agg(
        F.max(F.when(F.col("rn") == idx(0.05), F.col("p"))).alias("lo"),
        F.max(F.when(F.col("rn") == idx(0.95), F.col("p"))).alias("hi"),
    )
    clamped = F.when(F.col("p") < F.col("lo"), F.col("lo")).when(
        F.col("p") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("p"))
    return (
        ranked.join(F.broadcast(cuts.drop("n")), "segment")
        .groupBy("segment", "n")
        .agg(
            F.max(fin(F.col("lo"), 2)).alias("lo_cut"),
            F.max(fin(F.col("hi"), 2)).alias("hi_cut"),
            (F.sum("p").cast("double") / F.col("n").cast("double")).alias(
                "raw_mean"
            ),
            (F.sum(clamped).cast("double") / F.col("n").cast("double")).alias(
                "winsorized_mean"
            ),
        )
        .select(
            "segment",
            F.col("n").alias("n_orders"),
            "lo_cut",
            "hi_cut",
            "raw_mean",
            "winsorized_mean",
        )
    )


# ---------------------------------------------------------------------------
# op_seasonal_decompose — classical trend/seasonal/residual decomposition
# ---------------------------------------------------------------------------

_SD_MA = 25  # centered moving-average window (odd -> symmetric, exact /25)


@register(
    "op_seasonal_decompose",
    oracle=f"""
        WITH hc AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS h,
                   CAST(count(*) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, h, y,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM hc
        ),
        tr AS (
            SELECT event_type, h, y, rn, n,
                   sum(y) OVER (PARTITION BY event_type ORDER BY rn
                                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                       / CAST({_SD_MA} AS DOUBLE) AS trend
            FROM seq
        ),
        det AS (
            SELECT event_type, CAST(hour(h) AS INT) AS hod,
                   y - trend AS detr
            FROM tr WHERE rn > 12 AND rn <= n - 12
        )
        SELECT event_type, hod,
               count(*) AS n_obs,
               round(sum(detr) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS seasonal,
               round(sum(detr * detr) / CAST(count(*) AS DOUBLE)
                     - (sum(detr) / CAST(count(*) AS DOUBLE))
                       * (sum(detr) / CAST(count(*) AS DOUBLE)), 6) + 0.0
                   AS residual_var
        FROM det GROUP BY 1, 2
    """,
    doc="Classical seasonal decomposition of the hourly event-count "
    "series per type: trend = 25-hour centered moving average, "
    "seasonal = per-hour-of-day mean of the detrended series, residual "
    "variance alongside — the additive y = trend + seasonal + residual "
    "model that turns op_seasonality's static heatmap into a "
    "trend-adjusted profile. The /25 moving average is NOT a dyadic "
    "division, so detrended values are accumulation-order-sensitive "
    "(DuckDB's segment-tree window sums vs Spark's sequential ones "
    "differ in the last ulp) — seasonal factors and residual variance "
    "are ROUNDED to 6 dp per the rounding policy; there is still no "
    "libm anywhere. Edge hours without a full "
    "window are dropped (rn in (12, n-12]), matching the textbook "
    "treatment. Scale shape: series-per-key windows (the documented "
    "op_holt_linear class); the hour-of-day aggregation collapses to "
    "|types| x 24 cells map-side.",
)
def op_seasonal_decompose(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    seq = hc.select(
        "event_type",
        "h",
        "y",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    wma = (
        Window.partitionBy("event_type").orderBy("rn").rowsBetween(-12, 12)
    )
    tr = seq.withColumn(
        "trend", F.sum("y").over(wma) / F.lit(float(_SD_MA))
    )
    det = tr.where((F.col("rn") > 12) & (F.col("rn") <= F.col("n") - 12)).select(
        "event_type",
        F.hour("h").alias("hod"),
        (F.col("y") - F.col("trend")).alias("detr"),
    )
    nd = F.count(F.lit(1)).cast("double")
    mean = F.sum("detr") / nd
    # + 0.0 after round: IEEE -0.0 + 0.0 = +0.0, so an exactly-zero residual
    # variance ships with the same sign bit on both engines (Spark's round
    # emitted +0.0 where DuckDB's emitted -0.0 — a real hash divergence).
    return det.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.round(mean, 6) + F.lit(0.0)).alias("seasonal"),
        (
            F.round(
                F.sum(F.col("detr") * F.col("detr")) / nd - mean * mean, 6
            )
            + F.lit(0.0)
        ).alias("residual_var"),
    )


# ---------------------------------------------------------------------------
# op_price_elasticity — log-log demand elasticity per brand
# ---------------------------------------------------------------------------


@register(
    "op_price_elasticity",
    oracle="""
        WITH obs AS (
            SELECT p.p_brand AS brand,
                   ln(l.l_extendedprice / l.l_quantity) AS lp,
                   ln(l.l_quantity) AS lq
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0
        )
        SELECT brand,
               count(*) AS n_obs,
               round(regr_slope(lq, lp), 4) AS elasticity,
               round(regr_intercept(lq, lp), 4) AS intercept,
               round(regr_r2(lq, lp), 4) AS r2
        FROM obs GROUP BY 1
    """,
    doc="Own-price demand elasticity per brand: the slope of "
    "ln(quantity) on ln(unit price) across that brand's line items — "
    "the constant-elasticity (log-log) demand model every pricing team "
    "fits first. Uses the engines' built-in regression aggregates "
    "(regr_slope/intercept/r2 — matching estimators on both sides, the "
    "text_zipf_fit lesson: never hand-roll normal equations) over "
    "libm-ln features, with outputs ROUNDED to 4 dp to absorb "
    "cross-engine summation ulp (the established regression budget). "
    "One brand-keyed map-side-combined aggregate over the "
    "lineitem-part broadcast join; output is |brands| rows.",
)
def op_price_elasticity(spark, sf_dir):
    li, p = _t(spark, sf_dir, "lineitem", "part")
    obs = (
        li.where(F.col("l_quantity") > 0)
        .join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
            F.log("l_quantity").alias("lq"),
        )
    )
    return obs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.regr_slope("lq", "lp"), 4).alias("elasticity"),
        F.round(F.regr_intercept("lq", "lp"), 4).alias("intercept"),
        F.round(F.regr_r2("lq", "lp"), 4).alias("r2"),
    )
