"""Analytics surface beyond the reference (SURVEY §2.6/§2.8 notes the
reference uses only row_number/rank and no set ops — a Spark engine gets
the full analytic toolbox, so it's part of this engine's surface and
oracle-checked like everything else): lead/lag, moving frames, running
totals, ntile, ROLLUP/CUBE, pivot, statistical aggregates.

Determinism: every window ORDER BY carries a unique tiebreaker; decimal
sums stay exact; double stats are computed over small-magnitude columns
(quantity/discount) and rounded so engine-order effects stay below the
rounding grain.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators.ranking import global_lead, global_ntile
from .registry import dec, fin, register
from .registry import tables as _t
from .sources.loaders import local_frame


@register(
    "op_win_lead_lag",
    oracle="""
        SELECT o_orderkey,
               round(CAST(CAST(lag(o_totalprice)  OVER w AS DECIMAL(18,2)) AS DOUBLE), 2) AS prev_price,
               round(CAST(CAST(lead(o_totalprice) OVER w AS DECIMAL(18,2)) AS DOUBLE), 2) AS next_price
        FROM orders
        WHERE o_custkey <= 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="LEAD/LAG over per-customer order history (deterministic tiebreak "
    "on orderkey).",
)
def op_win_lead_lag(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        fin(F.lag("o_totalprice").over(w).cast("decimal(18,2)")).alias("prev_price"),
        fin(F.lead("o_totalprice").over(w).cast("decimal(18,2)")).alias("next_price"),
    )


@register(
    "op_win_running_total",
    oracle="""
        SELECT o_orderkey,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_spend
        FROM orders WHERE o_custkey <= 100
    """,
    doc="Running total per customer (exact decimal cumulative frame).",
)
def op_win_running_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        fin(F.sum(dec("o_totalprice")).over(w)).alias("running_spend"),
    )


@register(
    "op_win_moving_avg",
    oracle="""
        SELECT o_orderkey,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     / COUNT(*) OVER w, 4) AS moving_avg
        FROM orders WHERE o_custkey <= 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="Moving average over a 3-row frame (exact decimal numerator, one "
    "double division).",
)
def op_win_moving_avg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(
            F.sum(dec("o_totalprice")).over(w).cast("double") / F.count(F.lit(1)).over(w), 4
        ).alias("moving_avg"),
    )


@register(
    "op_win_ntile",
    oracle="""
        SELECT o_custkey, round(CAST(total_spend AS DOUBLE), 2) AS total_spend,
               ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
        FROM (
            SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_spend
            FROM orders GROUP BY o_custkey
        )
    """,
    doc="NTILE(4) spend quartiles — two-phase global ntile "
    "(operators/ranking.py): no single-partition pass over the data.",
)
def op_win_ntile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("decimal(38,2)").alias("total_spend")
    )
    tiled = global_ntile(
        spend, 4, [F.col("total_spend").desc(), F.col("o_custkey").asc()], "quartile"
    )
    return tiled.select("o_custkey", fin("total_spend").alias("total_spend"), "quartile")


@register(
    "op_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="GROUP BY ROLLUP: hierarchical subtotals + grand total (engine "
    "surface beyond the reference, SURVEY §2.5 'not present' list).",
)
def op_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        fin(F.sum(dec("o_totalprice"))).alias("total"),
    )


@register(
    "op_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="GROUP BY CUBE: all grouping-set combinations.",
)
def op_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@register(
    "op_pivot",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        FROM orders GROUP BY o_orderpriority
    """,
    doc="PIVOT with a fixed value list (unbounded pivot needs two passes — "
    "avoided by declaring values, which keeps it one shuffle).",
)
def op_pivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f_cnt"),
            F.coalesce("O", F.lit(0)).alias("o_cnt"),
            F.coalesce("P", F.lit(0)).alias("p_cnt"),
        )
    )


@register(
    "op_agg_stats",
    oracle="""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 6) AS qty_stddev,
               round(var_samp(l_quantity), 6) AS qty_var,
               round(min(l_quantity), 2) AS qty_min,
               round(max(l_quantity), 2) AS qty_max
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="Statistical aggregates (stddev/variance) over a small-magnitude "
    "column where double rounding at 1e-6 absorbs engine-order effects.",
)
def op_agg_stats(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.min("l_quantity"), 2).alias("qty_min"),
        F.round(F.max("l_quantity"), 2).alias("qty_max"),
    )


@register(
    "op_win_share_of_total",
    oracle="""
        SELECT o_orderstatus,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS status_total,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(SUM(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) OVER () AS DOUBLE) * 100, 4)
                 AS pct_of_total
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Share-of-total via an unpartitioned window over aggregates (runs "
    "on |groups| rows post-agg — the safe place for a global window).",
)
def op_win_share_of_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.sum(dec("o_totalprice")).cast("decimal(38,2)").alias("status_total")
    )
    w = Window.partitionBy()
    return agg.select(
        "o_orderstatus",
        fin("status_total").alias("status_total"),
        F.round(
            F.col("status_total").cast("double")
            / F.sum("status_total").over(w).cast("double")
            * 100,
            4,
        ).alias("pct_of_total"),
    )


@register(
    "op_approx_count_distinct",
    # HLL sketch values are engine-specific, so the checked output is the
    # exact counts, the ±10% tolerance envelope (computed INDEPENDENTLY on
    # both sides with integer arithmetic — the oracle replays the envelope,
    # not just the exact counts), and the in-envelope booleans (the oracle's
    # TRUE literals fail the hash the moment Spark's sketch lands outside
    # its cross-checked bounds). rsd=0.02 => 10% is ~5 sigma.
    oracle="""
        SELECT count(DISTINCT l_partkey) AS exact_parts,
               count(DISTINCT l_orderkey) AS exact_orders,
               (count(DISTINCT l_partkey) * 9) // 10 AS parts_lo,
               (count(DISTINCT l_partkey) * 11 + 9) // 10 AS parts_hi,
               (count(DISTINCT l_orderkey) * 9) // 10 AS orders_lo,
               (count(DISTINCT l_orderkey) * 11 + 9) // 10 AS orders_hi,
               true AS parts_within_10pct,
               true AS orders_within_10pct
        FROM lineitem
    """,
    doc="approx_count_distinct (HyperLogLog++): the 100 TB distinct-count "
    "tool — no exact-distinct shuffle explosion; error bounded vs exact "
    "both here (envelope + boolean columns checked against the oracle) "
    "and in pytest (SURVEY §2.5 notes the reference uses exact COUNT "
    "DISTINCT only; the engine offers both).",
)
def op_approx_count_distinct(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    agg = l.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    envl = agg.select(
        "approx_parts",
        "approx_orders",
        "exact_parts",
        "exact_orders",
        F.expr("(exact_parts * 9) div 10").alias("parts_lo"),
        F.expr("(exact_parts * 11 + 9) div 10").alias("parts_hi"),
        F.expr("(exact_orders * 9) div 10").alias("orders_lo"),
        F.expr("(exact_orders * 11 + 9) div 10").alias("orders_hi"),
    )
    return envl.select(
        "exact_parts",
        "exact_orders",
        "parts_lo",
        "parts_hi",
        "orders_lo",
        "orders_hi",
        F.col("approx_parts").between(F.col("parts_lo"), F.col("parts_hi")).alias(
            "parts_within_10pct"
        ),
        F.col("approx_orders").between(F.col("orders_lo"), F.col("orders_hi")).alias(
            "orders_within_10pct"
        ),
    )


@register(
    "op_distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="DISTINCT projection (ref A:5, T:132) — hash-agg without "
    "aggregates.",
)
def op_distinct_projection(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


@register(
    "op_asof_join",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ),
        v AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'view'
        ),
        ranked AS (
            SELECT p.purchase_id, p.user_id, p.purchase_ts,
                   v.event_id AS view_id, v.ts AS view_ts,
                   v.value AS value_at_view,
                   row_number() OVER (PARTITION BY p.purchase_id
                                      ORDER BY v.ts DESC, v.event_id DESC) AS rn
            FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.purchase_ts
        )
        SELECT purchase_id, user_id, purchase_ts, view_id, view_ts, value_at_view
        FROM ranked WHERE rn = 1
    """,
    doc="ASOF JOIN (operators/asof.py): each purchase matched to the most "
    "recent at-or-before view by the same user. Spark has no native ASOF; "
    "the union-merge plan is ONE shuffle+sort of |L|+|R| with a running "
    "last_value — never the O(pairs) range-join intermediate the oracle "
    "uses (fine at sf0.01; fatal at 100 TB).",
)
def op_asof_join(spark, sf_dir):
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = e.filter(F.col("event_type") == "view")
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload={"view_id": "event_id", "view_ts": "ts", "value_at_view": "value"},
        tiebreak="event_id",
    )


@register(
    "op_range_join",
    oracle="""
        WITH promos(promo, d_start, d_end) AS (
            VALUES ('launch95',   DATE '1995-01-01', DATE '1996-06-30'),
                   ('overlap96',  DATE '1996-01-01', DATE '1997-12-31'),
                   ('millennium', DATE '1999-06-01', DATE '2001-01-01'),
                   ('alltime',    DATE '1995-01-01', DATE '2001-12-31')
        )
        SELECT promo,
               count(*) AS n_orders,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        FROM orders JOIN promos
          ON o_orderdate >= d_start AND o_orderdate <= d_end
        GROUP BY promo
        ORDER BY promo
    """,
    doc="Interval range join: orders x OVERLAPPING promo windows (a row "
    "can match several promos, so no CASE rewrite exists). The promo side "
    "is broadcast, so the non-equi predicate runs as a "
    "BroadcastNestedLoopJoin — no shuffle, no O(|orders| x |promos|) "
    "exchange; for big-big interval joins the engine buckets by "
    "time-grain overlap first (see SCALE.md).",
)
def op_range_join(spark, sf_dir):
    import datetime

    o = _t(spark, sf_dir, "orders")
    promos = local_frame(
        spark,
        [
            ("launch95", datetime.date(1995, 1, 1), datetime.date(1996, 6, 30)),
            ("overlap96", datetime.date(1996, 1, 1), datetime.date(1997, 12, 31)),
            ("millennium", datetime.date(1999, 6, 1), datetime.date(2001, 1, 1)),
            ("alltime", datetime.date(1995, 1, 1), datetime.date(2001, 12, 31)),
        ],
        "promo string, d_start date, d_end date",
    )
    joined = o.join(
        F.broadcast(promos),
        (F.col("o_orderdate") >= F.col("d_start")) & (F.col("o_orderdate") <= F.col("d_end")),
    )
    return (
        joined.groupBy("promo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fin(F.sum(dec("o_totalprice"))).alias("revenue"),
        )
        .orderBy("promo")
    )


@register(
    "op_percentiles",
    oracle="""
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90,
               quantile_cont(o_totalprice, 0.99) AS p99
        FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles per group (F.percentile == "
    "quantile_cont bit-for-bit: same linear interpolation on the sorted "
    "set). At 100 TB prefer op_approx_percentile — exact percentile "
    "sorts every group.",
)
def op_percentiles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )


@register(
    "op_approx_percentile",
    # GK sketch values are engine-specific, so the checked output is the
    # exact discrete percentiles, the [p45,p55]/[p85,p95] tolerance
    # envelope (computed INDEPENDENTLY on both sides — the oracle replays
    # the envelope, not just the midpoints), and in-bounds booleans: the
    # oracle's TRUE literals fail the hash the moment Spark's sketch lands
    # outside its cross-checked envelope. The oracle replays Spark's
    # percentile_disc index rule EXPLICITLY — 1-based index ceil(p*n) with
    # the IEEE double multiply (empirically pinned: at n=3020, p=0.55 the
    # double product is 1661.0000000000002, so Spark returns index 1662,
    # NOT the "smallest k with k/n >= p" index 1661) — instead of DuckDB's
    # quantile_disc, whose rule diverges from Spark's at some (p, n); with
    # the replica, parity is rule-exact at any scale factor. The CAST(p AS
    # DOUBLE) matters: DuckDB parses bare 0.55 as DECIMAL, making the
    # product exact (1661.00 -> ceil 1661) where Spark's double is not.
    oracle="""
        WITH g AS (
            SELECT o_orderpriority,
                   list(o_totalprice ORDER BY o_totalprice) AS xs,
                   count(*) AS n
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority,
               round(xs[greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))], 2) AS exact_p50,
               round(xs[greatest(1, CAST(ceil(CAST(0.9 AS DOUBLE) * n) AS BIGINT))], 2) AS exact_p90,
               round(xs[greatest(1, CAST(ceil(CAST(0.45 AS DOUBLE) * n) AS BIGINT))], 2) AS p45,
               round(xs[greatest(1, CAST(ceil(CAST(0.55 AS DOUBLE) * n) AS BIGINT))], 2) AS p55,
               round(xs[greatest(1, CAST(ceil(CAST(0.85 AS DOUBLE) * n) AS BIGINT))], 2) AS p85,
               round(xs[greatest(1, CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT))], 2) AS p95,
               true AS p50_in_bounds,
               true AS p90_in_bounds
        FROM g
    """,
    doc="approx_percentile (GK sketch): the 100 TB quantile tool — "
    "mergeable partial sketches, no per-group global sort; error vs exact "
    "bounded both here (boolean columns checked against the oracle) and "
    "in pytest.",
)
def op_approx_percentile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", 0.5, 10000).alias("ap50"),
        F.approx_percentile("o_totalprice", 0.9, 10000).alias("ap90"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 2
        ).alias("exact_p50"),
        F.round(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"), 2
        ).alias("exact_p90"),
        F.expr("percentile_disc(0.45) WITHIN GROUP (ORDER BY o_totalprice)").alias("__p45"),
        F.expr("percentile_disc(0.55) WITHIN GROUP (ORDER BY o_totalprice)").alias("__p55"),
        F.expr("percentile_disc(0.85) WITHIN GROUP (ORDER BY o_totalprice)").alias("__p85"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)").alias("__p95"),
    )
    return agg.select(
        "o_orderpriority",
        "exact_p50",
        "exact_p90",
        F.round("__p45", 2).alias("p45"),
        F.round("__p55", 2).alias("p55"),
        F.round("__p85", 2).alias("p85"),
        F.round("__p95", 2).alias("p95"),
        F.col("ap50").between(F.col("__p45"), F.col("__p55")).alias("p50_in_bounds"),
        F.col("ap90").between(F.col("__p85"), F.col("__p95")).alias("p90_in_bounds"),
    )


@register(
    "op_histogram",
    oracle="""
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
               count(*) AS n,
               round(CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE), 2) AS lo,
               round(CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE), 2) AS hi
        FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="Fixed-width histogram by floor-binning — one hash aggregation, "
    "map-side partials; the distribution-profiling primitive.",
)
def op_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fin(F.min("o_totalprice").cast("decimal(18,2)")).alias("lo"),
            fin(F.max("o_totalprice").cast("decimal(18,2)")).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "op_skew_two_phase_agg",
    oracle="""
        SELECT o_orderstatus,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Skew-safe aggregation (operators/skew.two_phase_aggregate): "
    "salt -> partial agg -> refold. o_orderstatus has ~3 values — exactly "
    "the hot-key shape that stalls a 1000-executor groupBy; the salted "
    "two-phase produces identical results (oracle = plain GROUP BY).",
)
def op_skew_two_phase_agg(spark, sf_dir):
    from .operators.skew import two_phase_aggregate

    o = _t(spark, sf_dir, "orders")
    return two_phase_aggregate(
        o,
        ["o_orderstatus"],
        {
            "total": ("sum", F.sum(dec("o_totalprice"))),
            "n": ("sum", F.count(F.lit(1))),
        },
    ).select("o_orderstatus", fin("total").alias("total"), "n")


@register(
    "op_grouping_sets",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
               grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="GROUPING SETS with grouping() markers (beyond rollup/cube: an "
    "explicit set list) — one pass, no self-union.",
)
def op_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
               grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_prio
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


@register(
    "op_win_distinct_count",
    oracle="""
        SELECT o_orderkey, o_custkey,
               count(DISTINCT o_orderpriority)
                   OVER (PARTITION BY o_custkey) AS n_prios_used
        FROM orders WHERE o_custkey <= 50
    """,
    doc="COUNT(DISTINCT) OVER — Spark rejects it natively; the engine "
    "rewrites via dense_rank + max (same one shuffle on the partition "
    "key), a rewrite Catalyst doesn't do for you.",
)
def op_win_distinct_count(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    by_prio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    per_part = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.max(F.dense_rank().over(by_prio)).over(per_part).alias("n_prios_used"),
    )


@register(
    "op_seq_gaps",
    oracle="""
        WITH k AS (SELECT DISTINCT o_orderkey AS id FROM orders
                   WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 0),
        nxt AS (SELECT id, lead(id) OVER (ORDER BY id) AS next_id FROM k)
        SELECT id + 1 AS gap_start, next_id - 1 AS gap_end, next_id - id - 1 AS n_missing
        FROM nxt WHERE next_id - id > 1
        ORDER BY gap_start
    """,
    doc="Sequence-gap detection (missing-id audit): two-phase global lead "
    "(operators/ranking.py global_lead) over the sorted key — no "
    "single-partition window, no self-join; the classic integrity check "
    "for ingestion pipelines. (Driver keys are dense, so %7 rows are "
    "dropped on both sides to give the audit real gaps to find.)",
)
def op_seq_gaps(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") <= 2000) & (F.col("o_orderkey") % 7 != 0)
    )
    k = o.select(F.col("o_orderkey").alias("id")).distinct()
    # pin=None: the input is one cheap pruned scan + a small distinct —
    # recomputing it per branch is cheaper than the persist write+read
    # round-trip at any scale where the scan is the dominant cost, and the
    # deterministic literal boundaries keep every branch consistent without
    # a pin (measured: 1.3-1.6 s -> ~0.9 s warm at sf0.1; the r5 >2x
    # normalized flag on this query was exactly the pin constant)
    nxt = global_lead(k, "id", {"id": "next_id"}, pin=None)
    return (
        nxt.filter(F.col("next_id") - F.col("id") > 1)
        .select(
            (F.col("id") + 1).alias("gap_start"),
            (F.col("next_id") - 1).alias("gap_end"),
            (F.col("next_id") - F.col("id") - 1).alias("n_missing"),
        )
        .orderBy("gap_start")
    )


@register(
    "op_fuzzy_match",
    oracle="""
        WITH p AS (
            SELECT p_partkey, p_name, p_brand, p_size FROM part WHERE p_size <= 5
        )
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 10
        ORDER BY id_a, id_b
    """,
    doc="Fuzzy name matching: blocked (brand, size) self-join + "
    "Levenshtein threshold — entity-resolution primitive; the block key "
    "bounds the pair space exactly like ngram dedup.",
)
def op_fuzzy_match(spark, sf_dir):
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_name", "p_brand", "p_size")
    )
    a = p.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("__na"),
    )
    b = p.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("__nb"),
    )
    return (
        a.join(b, on=["p_brand", "p_size"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("__na", "__nb").alias("dist"))
        .filter(F.col("dist") <= 10)
        .orderBy("id_a", "id_b")
    )


@register(
    "op_forward_fill",
    oracle="""
        SELECT event_id, user_id, ts,
               last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_purchase_value
        FROM events WHERE user_id <= 20
    """,
    doc="Forward fill (gap filling): last non-null value carried forward "
    "per key — last_value IGNORE NULLS over a running frame; one shuffle "
    "on the key, the time-series imputation primitive.",
)
def op_forward_fill(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "op_posexplode",
    oracle="""
        SELECT doc_id,
               CAST(unnest(generate_series(1, len(toks))) - 1 AS INT) AS pos,
               unnest(toks) AS token
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id % 100 = 0)
    """,
    doc="LATERAL VIEW posexplode: token position index alongside the "
    "value (unnest WITH ORDINALITY) — the array-flattening shape for "
    "position-aware text features.",
)
def op_posexplode(spark, sf_dir):
    from .functions.text import tokens

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    return d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
    )


@register(
    "op_join_full",
    oracle="""
        SELECT COALESCE(c.n_nationkey, s.n_nationkey) AS nationkey,
               c.n_customers, s.n_suppliers
        FROM (SELECT n_nationkey, COUNT(*) AS n_customers
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE c_acctbal > 9000 GROUP BY n_nationkey) c
        FULL OUTER JOIN
             (SELECT n_nationkey, COUNT(*) AS n_suppliers
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE s_acctbal > 9000 GROUP BY n_nationkey) s
        ON c.n_nationkey = s.n_nationkey
    """,
    doc="FULL OUTER join of two aggregates (beyond reference — SURVEY §2.4 "
    "notes no full-outer in the reference): nations with rich customers vs "
    "rich suppliers, keeping nations present on either side only. "
    "Aggregate-before-join keeps both sides tiny; at 100 TB the full-outer "
    "runs on |nations| rows, not facts.",
)
def op_join_full(spark, sf_dir):
    c, s, n = _t(spark, sf_dir, "customer", "supplier", "nation")
    nc = (
        c.filter(F.col("c_acctbal") > 9000)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    ns = (
        s.filter(F.col("s_acctbal") > 9000)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        nc.alias("c")
        .join(ns.alias("s"), F.col("c.n_nationkey") == F.col("s.n_nationkey"), "full")
        .select(
            F.coalesce(F.col("c.n_nationkey"), F.col("s.n_nationkey")).alias("nationkey"),
            "n_customers",
            "n_suppliers",
        )
    )


@register(
    "op_unpivot",
    oracle="""
        WITH w AS (
          SELECT o_orderpriority,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                 CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, 'n_f' AS status_bucket, n_f AS n FROM w
        UNION ALL
        SELECT o_orderpriority, 'n_o', n_o FROM w
        UNION ALL
        SELECT o_orderpriority, 'n_p', n_p FROM w
    """,
    doc="UNPIVOT / melt (beyond reference): wide per-priority status counts "
    "back to long (measure, value) rows via DataFrame.unpivot — the inverse "
    "of op_pivot. Runs on the aggregated frame (|priorities| rows), so the "
    "melt itself is free at any scale.",
)
def op_unpivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == st, 1).otherwise(0)).alias(f"n_{st.lower()}")
            for st in ["F", "O", "P"]
        ]
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_f", "n_o", "n_p"],
        variableColumnName="status_bucket",
        valueColumnName="n",
    )


@register(
    "op_collect_agg",
    oracle="""
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
               array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities
        FROM orders WHERE o_custkey <= 50
        GROUP BY o_custkey
    """,
    doc="Array aggregation (beyond reference): collect_list/collect_set per "
    "group, sorted for engine-order determinism — array_agg semantics. The "
    "building block for nested training-example assembly (all orders of a "
    "user into one row). Map-side partial collect keeps the shuffle at "
    "|groups| rows. Output arrays leave the engine through array_join "
    "(registry 'no array columns in driver-facing output' rule: pandas "
    "canonicalizers cannot sort/hash list cells).",
)
def op_collect_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("orderkeys"),
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
    )


@register(
    "op_datetime_funcs",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
               CAST(extract(year FROM l_shipdate) AS INT) AS ship_year,
               CAST(quarter(l_shipdate) AS INT) AS ship_quarter,
               CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS order_to_ship_days,
               last_day(l_shipdate) AS ship_month_end
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey <= 200
    """,
    doc="Datetime function kit (beyond reference — SURVEY §2.9 notes the "
    "reference uses only to_date): date_trunc / extract / datediff / "
    "last_day, all JVM-side codegen'd expressions; trunc-to-month is the "
    "partition key a 100 TB fact table would be laid out on.",
)
def op_datetime_funcs(spark, sf_dir):
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    li = li.filter(F.col("l_orderkey") <= 200)
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("ship_month"),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.quarter("l_shipdate").cast("int").alias("ship_quarter"),
        F.datediff("l_shipdate", "o_orderdate").cast("int").alias("order_to_ship_days"),
        F.last_day("l_shipdate").alias("ship_month_end"),
    )


@register(
    "op_string_funcs",
    oracle="""
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               substr(c_name, 10, 9) AS name_digits,
               split_part(c_name, '#', 1) AS name_prefix,
               concat_ws('|', c_mktsegment, lower(c_name)) AS seg_name,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS custkey_padded,
               replace(c_name, '#', '-') AS name_dashed,
               reverse(c_mktsegment) AS seg_rev,
               length(c_name) AS name_len
        FROM customer WHERE c_custkey <= 300
    """,
    doc="String function kit (beyond reference): upper/substr/split_part/"
    "concat_ws/lpad/replace/reverse/length — the cleaning-adjacent string "
    "surface, all native Catalyst expressions inside one codegen stage.",
)
def op_string_funcs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 10, 9).alias("name_digits"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_prefix"),
        F.concat_ws("|", F.col("c_mktsegment"), F.lower(F.col("c_name"))).alias(
            "seg_name"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("custkey_padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.length("c_name").alias("name_len"),
    )


@register(
    "op_hash_split",
    oracle="""
        SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM (
          SELECT n_chars,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                      ELSE 'test' END AS split
          FROM (SELECT n_chars,
                       CAST(('0x' || substr(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
                FROM documents))
        GROUP BY split
    """,
    doc="Deterministic train/valid/test split (training-pipeline core): "
    "bucket = md5(salted id) first-32-bits mod 100 — stable across runs, "
    "engines, and repartitions (never rand()-based: reruns would reshuffle "
    "examples between splits). Pure map-side expression; the only shuffle "
    "is the final per-split count.",
)
def op_hash_split(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        d.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "op_win_range_frame",
    oracle="""
        SELECT event_id, user_id,
               round(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                          OVER (PARTITION BY user_id ORDER BY epoch(ts)
                                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                          AS DOUBLE), 6) AS value_1h
        FROM events WHERE user_id <= 20
    """,
    doc="Time-range window frame (beyond reference): per-user rolling 1-hour "
    "sum via RANGE BETWEEN on the epoch — the sliding-window primitive "
    "batch analog of the streaming windowed agg. Decimal-cast before SUM "
    "for engine-order determinism; one shuffle on the key.",
)
def op_win_range_frame(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        fin(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 6).alias("value_1h"),
    )


@register(
    "op_mode_per_group",
    oracle="""
        SELECT user_id, event_type AS top_event, n
        FROM (SELECT user_id, event_type, COUNT(*) AS n,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY COUNT(*) DESC, event_type) AS rn
              FROM events WHERE user_id <= 200
              GROUP BY user_id, event_type)
        WHERE rn = 1
    """,
    doc="Deterministic per-group mode: most frequent value with a total "
    "tiebreak (count DESC, value ASC) — F.mode's tie behavior is "
    "unspecified, so the engine expresses mode as count + row_number, which "
    "also scales: the window runs over |group x value| aggregates, not raw "
    "rows.",
)
def op_mode_per_group(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event"), "n")
    )


@register(
    "op_regexp_extract_all",
    oracle="""
        SELECT doc_id,
               coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z]{8,}'), ' '), '') AS long_words,
               CAST(len(regexp_extract_all(lower(text), '[a-z]{8,}')) AS INT) AS n_long
        FROM documents WHERE doc_id % 50 = 0
    """,
    doc="regexp_extract_all to array (beyond reference — the reference only "
    "uses boolean regex matches): all long-word occurrences per document, "
    "the extraction shape for PII scrubbing / pattern mining. Single "
    "map-side pass, no shuffle.",
)
def op_regexp_extract_all(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    extracted = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]{8,}"), 0)
    return d.select(
        "doc_id",
        # array_join, not a raw array column: driver-canonicalizer rule
        F.array_join(extracted, " ").alias("long_words"),
        F.size(extracted).cast("int").alias("n_long"),
    )


@register(
    "op_win_navigation",
    oracle="""
        SELECT o_orderkey,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd,
               round(CAST(CAST(first_value(o_totalprice) OVER w AS DECIMAL(18,2)) AS DOUBLE), 2) AS cheapest,
               round(CAST(CAST(nth_value(o_totalprice, 2) OVER w AS DECIMAL(18,2)) AS DOUBLE), 2) AS second_cheapest
        FROM orders WHERE o_custkey <= 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Rank-navigation window kit (beyond reference): percent_rank / "
    "cume_dist / first_value / nth_value over per-customer price order — "
    "deterministic tiebreak, explicit full frame (nth_value defaults "
    "differ between engines otherwise).",
)
def op_win_navigation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    wo = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(wo), 6).alias("pr"),
        F.round(F.cume_dist().over(wo), 6).alias("cd"),
        fin(F.first("o_totalprice").over(w).cast("decimal(18,2)")).alias("cheapest"),
        fin(F.nth_value("o_totalprice", 2).over(w).cast("decimal(18,2)")).alias("second_cheapest"),
    )


@register(
    "op_agg_corr",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_quantity, l_discount), 6) AS qd_corr,
               round(covar_samp(l_quantity, l_discount), 6) AS qd_covar,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS price_at_zero
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bivariate statistical aggregates (beyond reference): correlation, "
    "sample covariance, and least-squares slope/intercept per group — all "
    "single-pass partial-aggregatable moments (sum x, sum y, sum xy, "
    "sum x^2), so the shuffle carries |groups| rows of constants at any "
    "scale. Rounding absorbs engine summation-order ulps.",
)
def op_agg_corr(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qd_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qd_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("price_per_qty"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("price_at_zero"),
    )


@register(
    "op_min_by_max_by",
    oracle="""
        SELECT o_orderpriority,
               max_by(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey)
                 AS priciest_order,
               min_by(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 10000000 + o_orderkey)
                 AS cheapest_order,
               round(CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE), 2) AS max_price
        FROM orders GROUP BY o_orderpriority
    """,
    doc="Per-group argmax/argmin via MIN_BY/MAX_BY — one hash aggregate, "
    "no window, no self-join (the classic 'row of the max' rewrite). "
    "Ordering value is made UNIQUE (price-cents * 1e7 + orderkey, exact "
    "in int64) because both engines pick an arbitrary row on ties.",
)
def op_min_by_max_by(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ordv = (
        (F.col("o_totalprice") * 100).cast("bigint") * F.lit(10000000).cast("bigint")
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordv).alias("priciest_order"),
        F.min_by("o_orderkey", ordv).alias("cheapest_order"),
        fin(F.max("o_totalprice").cast("decimal(18,2)")).alias("max_price"),
    )


@register(
    "op_zscore_outliers",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
               round((l_quantity - avg(l_quantity) OVER w)
                     / stddev_samp(l_quantity) OVER w, 6) AS z
        FROM lineitem
        WINDOW w AS (PARTITION BY l_suppkey)
        QUALIFY abs((l_quantity - avg(l_quantity) OVER w)
                    / stddev_samp(l_quantity) OVER w) > 1.6
    """,
    doc="Per-group z-score outlier flagging via unordered analytic window "
    "(whole-partition frame -> order-independent). The group mean is "
    "exact (integer sum / count, one double division); stddev differs "
    "only in summation-order ulps, so the raw |z| cut is stable across "
    "engines. Cut is 1.6: quantity is ~uniform(1,50) so large groups cap "
    "|z| near 1.70 — 1.6 fires at every sf (1.8 fired never), and sits "
    "in the gap between the discrete z levels of adjacent quantities "
    "(~0.069 apart). At 100 TB the window is one shuffle on the group "
    "key; groups stream through memory independently.",
)
def op_zscore_outliers(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey")
    z = (F.col("l_quantity") - F.avg("l_quantity").over(w)) / F.stddev_samp(
        "l_quantity"
    ).over(w)
    return (
        l.select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", z.alias("_z"))
        .filter(F.abs(F.col("_z")) > 1.6)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_quantity",
            F.round("_z", 6).alias("z"),
        )
    )


@register(
    "op_string_agg",
    oracle="""
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
               CAST(count(DISTINCT o_orderpriority) AS INT) AS n_prios
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Sorted string aggregation (LISTAGG / string_agg) per group — "
    "Spark spells it array_join(array_sort(collect_set(x))). collect_set "
    "alone is non-deterministic in element order; the sort makes the "
    "result engine- and partitioning-stable. State is bounded by "
    "|distinct values| per group, not row count.",
)
def op_string_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    prios = F.array_sort(F.collect_set("o_orderpriority"))
    return o.groupBy("o_orderstatus").agg(
        F.array_join(prios, ",").alias("prios"),
        F.size(prios).cast("int").alias("n_prios"),
    )


@register(
    "op_bool_aggs",
    oracle="""
        SELECT o_orderpriority,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_orderstatus = 'F') AS any_finished,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_large
        FROM orders GROUP BY o_orderpriority
    """,
    doc="Boolean/conditional aggregate kit (beyond reference): BOOL_AND / "
    "BOOL_OR / COUNT_IF — three-valued-logic-correct universal and "
    "existential quantifiers per group, each a constant-size partial "
    "aggregate (the distributed-safe replacement for 'collect and check "
    "in Python').",
)
def op_bool_aggs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
    )


@register(
    "op_try_funcs",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_custkey % 5 = 0 THEN NULL
                    ELSE round(CAST(o_totalprice AS DOUBLE) / (o_custkey % 5), 6)
               END AS safe_ratio,
               TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_num,
               TRY_CAST(o_orderstatus AS INT) AS status_num
        FROM orders
    """,
    doc="ANSI-safe error-handling expressions: TRY_DIVIDE (NULL on zero "
    "divisor instead of DIVIDE_BY_ZERO) and TRY_CAST (NULL on garbage "
    "instead of CAST_INVALID_INPUT). Load-bearing under the driver's "
    "vanilla ANSI-ON session: these are the engine's sanctioned escape "
    "hatches where PG-style validate-then-cast (functions/cleaning.py) "
    "is overkill.",
)
def op_try_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    mod5 = F.col("o_custkey") % 5
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice").cast("double"), mod5), 6
        ).alias("safe_ratio"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1))
        .try_cast("int")
        .alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
    )


@register(
    "op_cross_join_grid",
    oracle="""
        WITH p AS (SELECT DISTINCT o_orderpriority FROM orders),
             m AS (SELECT DISTINCT l_returnflag FROM lineitem),
             cnt AS (SELECT o_orderpriority, l_returnflag, count(*) AS n
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                     GROUP BY 1, 2)
        SELECT p.o_orderpriority, m.l_returnflag, coalesce(n, 0) AS n
        FROM p CROSS JOIN m
        LEFT JOIN cnt USING (o_orderpriority, l_returnflag)
    """,
    doc="Dense reporting grid via explicit CROSS JOIN of two small "
    "distinct-key sets, left-joined to the observed counts with zero "
    "fill — the 'no missing cells' report shape. The cross join is "
    "|priorities| x |shipmodes| rows (tiny, broadcast nested loop); the "
    "only at-scale cost is the fact-table aggregate, which reduces "
    "before any join.",
)
def op_cross_join_grid(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    p = o.select("o_orderpriority").distinct()
    m = l.select("l_returnflag").distinct()
    cnt = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        p.crossJoin(m)
        .join(cnt, ["o_orderpriority", "l_returnflag"], "left")
        .select(
            "o_orderpriority",
            "l_returnflag",
            F.coalesce("_n", F.lit(0)).alias("n"),
        )
    )


@register(
    "op_topn_per_group",
    oracle="""
        SELECT p_brand, l_partkey, round(CAST(revenue AS DOUBLE), 4) AS revenue, rnk FROM (
            SELECT p_brand, l_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DECIMAL(38,4)) AS revenue,
                   rank() OVER (PARTITION BY p_brand
                                ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                              * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DECIMAL(38,4)) DESC,
                                         l_partkey) AS rnk
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand, l_partkey
        ) WHERE rnk <= 3
    """,
    doc="Top-N per group: rank within partition then filter — the "
    "distributed top-k shape (unlike global ORDER BY LIMIT, every "
    "partition ranks in parallel; no single-partition window, SURVEY "
    "§7.4 hazard avoided). Aggregate reduces lineitem to (brand,part) "
    "grain BEFORE the window, so window state is small; deterministic "
    "tiebreak on partkey.",
)
def op_topn_per_group(spark, sf_dir):
    l, p = _t(spark, sf_dir, "lineitem", "part")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "3,2"))
    per_part = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(disc_price).cast("decimal(38,4)").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), "l_partkey")
    return (
        per_part.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "l_partkey", fin("revenue", 4).alias("revenue"), "rnk")
    )


@register(
    "op_date_spine",
    oracle="""
        WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                          CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
                         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
                  FROM orders GROUP BY 1)
        SELECT day, CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
               round(CAST(coalesce(total, 0) AS DOUBLE), 2) AS total
        FROM spine LEFT JOIN daily USING (day)
    """,
    doc="Date spine (gap-free calendar): min/max bounds -> sequence() -> "
    "explode, left join daily aggregates, zero-fill missing days. The "
    "spine is O(days) rows regardless of fact size — broadcast side of "
    "the join; the fact table reduces to daily grain before joining. "
    "The canonical time-series densification for reporting/forecasting "
    "feeds.",
)
def op_date_spine(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    bounds = o.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    daily = o.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("decimal(38,2)").alias("t"),
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
        fin(F.coalesce("t", F.lit(0))).alias("total"),
    )


@register(
    "op_percent_rank",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               round(percent_rank() OVER w, 8) AS pct_rank,
               round(cume_dist() OVER w, 8) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="PERCENT_RANK + CUME_DIST within segment: relative standing of "
    "each account balance. Both are exact-integer-ratio divisions "
    "((rank-1)/(n-1), rank/n) so double results are bit-stable across "
    "engines; rounded to 8 as belt-and-braces. Partitioned window -> "
    "parallel per segment.",
)
def op_percent_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
    )


@register(
    "op_market_basket",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT p1, p2, count(*) AS n_orders
        FROM pairs GROUP BY p1, p2
        ORDER BY n_orders DESC, p1, p2 LIMIT 50
    """,
    doc="Market-basket pair co-occurrence: distinct (order, part) -> "
    "self-equi-join on order with p1 < p2 -> pair counts -> top 50. The "
    "self-join is quadratic ONLY in per-order basket size (bounded, ~4 "
    "items), linear in orders; the shuffle key is l_orderkey so both "
    "sides co-partition, and TakeOrderedAndProject does distributed "
    "top-k without a global sort. Fully deterministic via (n, p1, p2) "
    "ordering.",
)
def op_market_basket(spark, sf_dir):
    # r11 opt (guide §2.4): the r1-r10 form shuffled lineitem into a
    # DISTINCT, self-joined the result on the order key (second shuffle +
    # join machinery), and aggregated the joined pairs. One groupBy
    # collect_set builds each order's distinct sorted basket in a single
    # shuffle; unordered pairs are generated ROW-LOCALLY from the
    # ascending array (p1 < p2 by construction — the same canonical order
    # the a.partkey < b.partkey join condition produced), so the
    # distinct's exchange, both self-join inputs, and the join itself
    # disappear from the plan.
    l = _t(spark, sf_dir, "lineitem")
    baskets = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + F.lit(2), F.size("items")),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.p1", "p.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(50)
    )


@register(
    "op_bitwise_aggs",
    oracle="""
        SELECT l_returnflag,
               bit_and(l_linenumber) AS flags_and,
               bit_or(l_linenumber)  AS flags_or,
               bit_xor(l_linenumber) AS flags_xor,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bitwise aggregates (bit_and/bit_or/bit_xor) — the bitmask "
    "roll-up shape used for feature-flag / permission-set compaction. "
    "All three are commutative-associative so partial aggregation "
    "applies; one shuffle at the group key.",
)
def op_bitwise_aggs(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__bw_lineitem")
    return spark.sql("""
        SELECT l_returnflag,
               bit_and(l_linenumber) AS flags_and,
               bit_or(l_linenumber)  AS flags_or,
               bit_xor(l_linenumber) AS flags_xor,
               count(*) AS n
        FROM __bw_lineitem GROUP BY l_returnflag
    """)


@register(
    "op_outlier_zscore",
    oracle="""
        WITH stats AS (
            SELECT c_nationkey,
                   count(*) AS n,
                   sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s1,
                   sum(CAST(CAST(c_acctbal AS DECIMAL(18,2))
                            * CAST(c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2
            FROM customer GROUP BY c_nationkey
        ),
        scored AS (
            SELECT c.c_nationkey, c.c_custkey,
                   (CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
                    - CAST(s.s1 AS DOUBLE) / s.n)
                   / sqrt((CAST(s.s2 AS DOUBLE)
                           - s.n * (CAST(s.s1 AS DOUBLE) / s.n)
                                 * (CAST(s.s1 AS DOUBLE) / s.n)) / (s.n - 1)) AS z
            FROM customer c JOIN stats s USING (c_nationkey)
            WHERE s.n > 1
              AND (CAST(s.s2 AS DOUBLE)
                   - s.n * (CAST(s.s1 AS DOUBLE) / s.n)
                         * (CAST(s.s1 AS DOUBLE) / s.n)) > 0
        )
        SELECT c_nationkey,
               count(*) AS n_outliers,
               CAST(sum(c_custkey) AS BIGINT) AS sum_outlier_keys,
               round(max(abs(z)), 6) AS max_abs_z
        FROM scored WHERE abs(z) > 1.5
        GROUP BY c_nationkey
    """,
    doc="Grouped anomaly detection: per-nation account-balance z-scores "
    "with |z| > 1.5 flagged. Group stats come from EXACT decimal sums "
    "(sum, sum-of-squares) so the mean/variance are order-independent; "
    "the identical double formula then runs on both engines, making the "
    "threshold comparison bit-deterministic. The 25-row stats table is "
    "broadcast back onto the fact scan — no window, no second shuffle of "
    "the fact table; at 100 TB the pattern is one map-side-combined agg "
    "plus one broadcast hash join.",
)
def op_outlier_zscore(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    bal = dec("c_acctbal")
    stats = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bal).alias("s1"),
        F.sum((bal * bal).cast("decimal(38,4)")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var_num = F.col("s2").cast("double") - F.col("n") * mean * mean
    scored = (
        c.join(F.broadcast(stats), "c_nationkey")
        .filter((F.col("n") > 1) & (var_num > 0))
        .select(
            "c_nationkey",
            "c_custkey",
            ((bal.cast("double") - mean) / F.sqrt(var_num / (F.col("n") - 1))).alias(
                "z"
            ),
        )
    )
    return (
        scored.filter(F.abs("z") > 1.5)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.sum("c_custkey").alias("sum_outlier_keys"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
    )


@register(
    "op_incremental_agg",
    oracle="""
        SELECT o_orderpriority,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
               count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     / count(*), 2) AS avg_price
        FROM orders GROUP BY 1, 2
    """,
    doc="Incremental aggregate maintenance (partial-agg merge): the orders "
    "fact is split at a cutoff date into a 'published' base and a 'new "
    "arrivals' delta, each aggregated independently to (count, exact "
    "decimal sum) partials, then merged by re-aggregating the union — the "
    "algebraic-merge property that lets a 100 TB pipeline maintain a "
    "rolling summary by aggregating ONLY the new partition and merging "
    "partials, never rescanning history. AVG is derived sum/count at "
    "final projection (it does not merge directly). Oracle is the full "
    "recompute over all rows — merged partials must equal it exactly.",
)
def op_incremental_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df):
        return df.groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).alias("s"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "order_month")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        "order_month",
        "n_orders",
        fin("s").alias("revenue"),
        F.round(F.col("s").cast("double") / F.col("n_orders"), 2).alias("avg_price"),
    )


@register(
    "op_bloom_prune_join",
    oracle="""
        SELECT l.l_returnflag,
               count(*) AS n_items,
               round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
                     2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag
    """,
    doc="Bloom-filter semi-join reduction: urgent orders' keys are "
    "aggregated into a 16 KiB bitmap (distributed bit_or; the driver "
    "collects words, never keys), the lineitem scan is pruned by pure "
    "JVM bit-test expressions BEFORE its shuffle, then the exact join "
    "restores exactness (the bloom only passes false positives, never "
    "drops a match). Oracle is the plain join — identical results, but "
    "the shuffle moves ~25% of lineitem instead of all of it; at 100 TB "
    "this is the explicit form of Spark's runtime row-level filter for "
    "build sides the optimizer can't see (test_plans pins the native "
    "injection too).",
)
def op_bloom_prune_join(spark, sf_dir):
    from .operators.bloom import bloom_prefilter, build_bloom

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    l = _t(spark, sf_dir, "lineitem")
    bloom = build_bloom(o, "o_orderkey")
    pruned = bloom_prefilter(l, "l_orderkey", bloom)
    return (
        pruned.join(o, pruned.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fin(F.sum(dec("l_extendedprice"))).alias("revenue"),
        )
    )


@register(
    "events_attribution",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts AS purchase_ts,
                   CAST(value AS DECIMAL(18,6)) AS revenue
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id, user_id, ts,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events WHERE event_type = 'click'
        ),
        ranked AS (
            SELECT p.event_id, p.purchase_ts, p.revenue,
                   c.ts AS click_ts, c.k,
                   row_number() OVER (PARTITION BY p.event_id
                                      ORDER BY c.ts DESC, c.event_id DESC) AS rn
            FROM p LEFT JOIN c
              ON c.user_id = p.user_id AND c.ts <= p.purchase_ts
        ),
        attributed AS (
            SELECT CASE
                     WHEN click_ts IS NULL
                          OR date_diff('second', click_ts, purchase_ts) > 86400
                       THEN 'organic'
                     WHEN k % 3 = 0 THEN 'paid'
                     WHEN k % 3 = 1 THEN 'social'
                     ELSE 'search'
                   END AS channel,
                   revenue
            FROM ranked WHERE rn = 1
        )
        SELECT channel, count(*) AS n_purchases,
               round(CAST(sum(revenue) AS DOUBLE), 6) AS revenue
        FROM attributed GROUP BY channel
    """,
    doc="Last-touch marketing attribution with a 24 h lookback: each "
    "purchase takes the most recent prior click by the same user via the "
    "union-merge as-of join (ONE shuffle+sort of clicks+purchases — "
    "operators/asof.py — never the O(pairs) range join the oracle "
    "replays), goes 'organic' when the click is missing or stale, and "
    "revenue rolls up per derived channel. The left as-of keeps "
    "unattributed purchases, which is what makes the staleness bound "
    "meaningful.",
)
def events_attribution(spark, sf_dir):
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").cast("decimal(18,6)").alias("revenue"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload={"click_ts": "ts", "k": "k"},
        tiebreak="event_id",
        how="left",
    )
    channel = (
        F.when(
            F.col("click_ts").isNull()
            | (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
                > 86400
            ),
            "organic",
        )
        .when(F.col("k") % 3 == 0, "paid")
        .when(F.col("k") % 3 == 1, "social")
        .otherwise("search")
    )
    return (
        joined.select(channel.alias("channel"), "revenue")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            fin(F.sum("revenue"), 6).alias("revenue"),
        )
    )


@register(
    "op_skew_salted_join",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT o_orderpriority,
                   CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_rank
            FROM orders
        )
        SELECT d.prio_rank,
               count(*) AS n_orders,
               round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue
        FROM orders o JOIN dim d USING (o_orderpriority)
        GROUP BY d.prio_rank
    """,
    doc="Skew-safe dimension join (operators/skew.salted_broadcast_join, "
    "the join-side sibling of op_skew_two_phase_agg): o_orderpriority has "
    "5 values, so a plain shuffle join lands each hot key on one "
    "reducer. The salted form replicates the broadcast dim 16x on a "
    "synthetic salt and spreads each hot key across 16 streams; results "
    "are identical to the plain join (oracle = plain JOIN + GROUP BY). "
    "At 100 TB this is the standard recipe for any fact-to-small-dim "
    "join with a pathological key histogram.",
)
def op_skew_salted_join(spark, sf_dir):
    from .operators.skew import salted_broadcast_join

    o = _t(spark, sf_dir, "orders")
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "prio_rank", F.substring("o_orderpriority", 1, 1).cast("int")
        )
    )
    joined = salted_broadcast_join(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        dim,
        "o_orderpriority",
    )
    return joined.groupBy("prio_rank").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fin(F.sum(dec("o_totalprice"))).alias("revenue"),
    )
