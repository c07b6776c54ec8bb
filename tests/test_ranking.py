"""Two-phase global rank/row_number/ntile (operators/ranking.py): exact
parity with the classic single-window SQL forms, tie handling across range
partition boundaries, and the plan property that motivates the operator —
no single-partition Exchange over the data (SURVEY §7.4 hazard;
VERDICT r2 'What's wrong' #1)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from amazon_fresh_sql_data_engineering_spark import fence
from amazon_fresh_sql_data_engineering_spark.operators.ranking import (
    global_cumsum,
    global_lead,
    global_ntile,
    global_rank,
    global_row_number,
)


@pytest.fixture(scope="module")
def tied_df(spark):
    # heavy ties: 2000 rows over 41 distinct values, so every range
    # partition boundary falls inside a tie group somewhere
    random.seed(3)
    rows = [(i, random.randint(0, 40)) for i in range(2000)]
    return spark.createDataFrame(rows, "id int, v int").cache()


def test_rank_matches_single_window(tied_df):
    exp = tied_df.withColumn("r", F.rank().over(Window.orderBy(F.col("v").desc())))
    got = global_rank(tied_df, "v", "r")
    assert {(x.id, x.r) for x in exp.collect()} == {(x.id, x.r) for x in got.collect()}


def test_rank_ascending_and_multi_column(tied_df):
    w = Window.orderBy(F.col("v").asc(), F.col("id").desc())
    exp = tied_df.withColumn("r", F.rank().over(w))
    got = global_rank(tied_df, [F.col("v").asc(), F.col("id").desc()], "r")
    assert {(x.id, x.r) for x in exp.collect()} == {(x.id, x.r) for x in got.collect()}


def test_row_number_matches_single_window(tied_df):
    exp = tied_df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    got = global_row_number(tied_df, [F.col("v").asc(), F.col("id").asc()], "rn")
    assert {(x.id, x.rn) for x in exp.collect()} == {
        (x.id, x.rn) for x in got.collect()
    }


@pytest.mark.parametrize("n,limit", [(4, 2000), (7, 2000), (3, 10), (13, 10), (7, 7)])
def test_ntile_matches_single_window(tied_df, n, limit):
    # covers remainder tiles, n > rows, and n == rows
    sub = tied_df.limit(limit)
    exp = sub.withColumn("t", F.ntile(n).over(Window.orderBy("v", "id")))
    got = global_ntile(sub, n, [F.col("v").asc(), F.col("id").asc()], "t")
    assert {(x.id, x.t) for x in exp.collect()} == {(x.id, x.t) for x in got.collect()}


def test_rank_output_schema_and_column_order(tied_df):
    got = global_rank(tied_df, "v", "r")
    assert got.columns == ["id", "v", "r"]
    assert dict(got.dtypes)["r"] == "bigint"  # int32 overflows at corpus scale


def test_scratch_column_collision_raises(spark):
    df = spark.range(5).withColumn("__gr_pid", F.lit(1))
    with pytest.raises(ValueError, match="__gr_pid"):
        global_rank(df, "id", "r")


def test_empty_input(spark):
    df = spark.range(0).withColumn("v", F.col("id"))
    assert global_rank(df, "v", "r").count() == 0
    assert global_ntile(df, 4, ["v"], "t").count() == 0


def test_single_row(spark):
    df = spark.createDataFrame([(1, 9)], "id int, v int")
    row = global_rank(df, "v", "r").collect()[0]
    assert (row.id, row.v, row.r) == (1, 9, 1)


def test_global_lead_matches_single_window(tied_df):
    exp = tied_df.withColumn(
        "nid", F.lead("id").over(Window.orderBy("id"))
    ).withColumn("nv", F.lead("v").over(Window.orderBy("id")))
    got = global_lead(tied_df, [F.col("id").asc()], {"id": "nid", "v": "nv"})
    assert {(r.id, r.nid, r.nv) for r in exp.collect()} == {
        (r.id, r.nid, r.nv) for r in got.collect()
    }


def test_global_lead_descending(tied_df):
    exp = tied_df.withColumn("nid", F.lead("id").over(Window.orderBy(F.col("id").desc())))
    got = global_lead(tied_df, "id", {"id": "nid"}, descending=True)
    assert {(r.id, r.nid) for r in exp.collect()} == {
        (r.id, r.nid) for r in got.collect()
    }


def test_global_lead_single_and_empty(spark):
    one = spark.createDataFrame([(1, 2)], "id int, v int")
    assert global_lead(one, "id", {"v": "nv"}).collect()[0].nv is None
    empty = spark.createDataFrame([], "id int, v int")
    assert global_lead(empty, "id", {"v": "nv"}).count() == 0


def test_global_cumsum_rows_frame(tied_df):
    exp = tied_df.withColumn(
        "cs",
        F.sum("v").over(
            Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = global_cumsum(tied_df, [F.col("v").asc(), F.col("id").asc()], "v", "cs")
    assert {(r.id, r.cs) for r in exp.collect()} == {
        (r.id, r.cs) for r in got.collect()
    }


def test_global_cumsum_range_frame_peers_share(tied_df):
    # SQL-default RANGE frame: all rows tied on the order key share a value
    exp = tied_df.withColumn("cs", F.sum("v").over(Window.orderBy("v")))
    got = global_cumsum(tied_df, "v", "v", "cs", rows_frame=False)
    assert {(r.id, r.cs) for r in exp.collect()} == {
        (r.id, r.cs) for r in got.collect()
    }


def test_global_cumsum_multi_column_one_pass(tied_df):
    # both running totals in one call == two chained single-column calls
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    src = tied_df.withColumn("v2", F.col("v") * 10 + F.col("id"))
    exp = src.withColumn("cs", F.sum("v").over(w)).withColumn(
        "cs2", F.sum("v2").over(w)
    )
    spec = [F.col("v").asc(), F.col("id").asc()]
    got = global_cumsum(src, spec, ["v", "v2"], ["cs", "cs2"])
    assert {(r.id, r.cs, r.cs2) for r in exp.collect()} == {
        (r.id, r.cs, r.cs2) for r in got.collect()
    }
    with pytest.raises(ValueError, match="length mismatch"):
        global_cumsum(src, spec, ["v", "v2"], ["cs"])


@pytest.mark.parametrize(
    "dist",
    ["mega_tie", "all_equal", "unique"],
    ids=["half-the-rows-one-key", "single-tie-group", "total-order"],
)
def test_two_phase_family_forced_scale_stress(spark, dist):
    """Forced-scale adversarial stress: 300k rows pushed through 64 range
    partitions (two orders of magnitude past the unit fixtures) under the
    three distributions that break naive rank composition — a mega tie
    group holding half the table (every boundary sample lands inside it),
    one single global tie group (rank must be 1 everywhere while cumsum
    still advances), and a fully unique ordering. Parity vs the
    single-window SQL forms is asserted with a distributed mismatch count
    (join on the unique id), never a driver collect of the data."""
    n = 300_000
    base = spark.range(n).repartition(24)
    if dist == "mega_tie":
        v = F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(
            F.pmod(F.hash(F.col("id")), F.lit(1000))
        )
    elif dist == "all_equal":
        v = F.lit(7)
    else:
        v = F.col("id") * 3 + 1
    df = base.select(F.col("id"), v.cast("long").alias("v"),
                     (F.col("id") % 5).cast("long").alias("w"))

    w_rank = Window.orderBy(F.col("v").desc())
    w_total = Window.orderBy("v", "id")
    exp = (
        df.withColumn("r_exp", F.rank().over(w_rank))
        .withColumn("rn_exp", F.row_number().over(w_total))
        .withColumn(
            "cs_exp",
            F.sum("v").over(w_total.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "cw_exp",
            F.sum("w").over(w_total.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    got = global_rank(df, "v", "r", num_partitions=64)
    got = global_row_number(
        got, [F.col("v").asc(), F.col("id").asc()], "rn", num_partitions=64
    )
    got = global_cumsum(
        got,
        [F.col("v").asc(), F.col("id").asc()],
        ["v", "w"],
        ["cs", "cw"],
        num_partitions=64,
    )
    joined = exp.select("id", "r_exp", "rn_exp", "cs_exp", "cw_exp").join(
        got.select("id", "r", "rn", "cs", "cw"), "id"
    )
    bad = joined.filter(
        (F.col("r") != F.col("r_exp"))
        | (F.col("rn") != F.col("rn_exp"))
        | (F.col("cs") != F.col("cs_exp"))
        | (F.col("cw") != F.col("cw_exp"))
    ).count()
    assert bad == 0
    assert joined.count() == n


def test_lead_and_ntile_forced_scale_stress(spark):
    """Same forced-scale hazard class as the rank/cumsum stress, for the
    two remaining family members: lead's cross-partition patch rows and
    ntile's remainder-tile arithmetic at 64 range partitions / 300k rows,
    against the single-window forms via distributed mismatch counts."""
    n = 300_000
    df = spark.range(n).repartition(24).select(
        F.col("id"), (F.pmod(F.hash(F.col("id")), F.lit(50))).cast("long").alias("v")
    )
    w = Window.orderBy("v", "id")
    exp = df.withColumn("nid_exp", F.lead("id").over(w)).withColumn(
        "t_exp", F.ntile(7).over(w)
    )
    spec = [F.col("v").asc(), F.col("id").asc()]
    got = global_lead(df, spec, {"id": "nid"}, num_partitions=64)
    got = global_ntile(got, 7, spec, "t", num_partitions=64)
    joined = exp.select("id", "nid_exp", "t_exp").join(
        got.select("id", "nid", "t"), "id"
    )
    bad = joined.filter(
        (~F.col("nid").eqNullSafe(F.col("nid_exp")))
        | (F.col("t") != F.col("t_exp"))
    ).count()
    assert bad == 0
    assert joined.count() == n


def test_plan_is_deterministic_no_checkpoint_no_range_exchange(spark):
    """The round-5 design invariant: pid is a pure literal-tree function of
    the key, so two-phase plans contain NO checkpoint fence (Scan
    ExistingRDD), NO range exchange, and exactly one full-data hash
    exchange (the pid window shuffle; counts/offsets move metadata)."""
    from amazon_fresh_sql_data_engineering_spark.plans import explain as X

    df = spark.range(50_000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(977))).alias("v")
    )
    out = global_rank(df, "v", "r")
    plan = X.physical_plan(out)
    assert "Scan ExistingRDD" not in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]
    # the persist pin is visible to every branch (deterministic pid means
    # the CacheManager lookup actually HITS — the round-4 failure mode)
    assert "InMemoryTableScan" in plan, plan[:2000]
    spark.catalog.clearCache()


def test_pin_modes_all_agree(spark):
    df = spark.range(10_000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(321))).alias("v")
    )
    exp = {(r.id, r.r) for r in global_rank(df, "v", "r").collect()}
    for src in (fence.checkpoint(df), df):
        got = {(r.id, r.r) for r in global_rank(src, "v", "r", pin=None).collect()}
        assert got == exp
    for bad in ("checkpoint", "reliable"):
        with pytest.raises(ValueError, match="pin"):
            global_rank(df, "v", "r", pin=bad)
    spark.catalog.clearCache()
    fence.release_all()


def test_cumsum_indexed_scratch_guard_and_empty_values(spark):
    df = spark.range(5).withColumn("__gr_l_0", F.lit(1))
    with pytest.raises(ValueError, match="__gr_l_0"):
        global_cumsum(df, "id", "id", "cs")
    with pytest.raises(ValueError, match="at least one value column"):
        global_cumsum(spark.range(5), "id", [], [])


def test_null_and_nan_keys_match_single_window(spark):
    """Boundary literals can be NULL or NaN at any position; the generated
    comparisons must reproduce Spark's NULLS FIRST/LAST + NaN-largest sort
    semantics exactly, ascending and descending."""
    rows = []
    for i in range(4000):
        if i % 11 == 0:
            v = None
        elif i % 17 == 0:
            v = float("nan")
        else:
            v = float((i * 37) % 991)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "id int, v double").repartition(16)
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        exp = df.withColumn("r", F.rank().over(Window.orderBy(order, F.col("id"))))
        got = global_rank(df, [order, F.col("id").asc()], "r", num_partitions=16)
        mism = (
            exp.select("id", F.col("r").alias("r_exp"))
            .join(got.select("id", "r"), "id")
            .filter(F.col("r") != F.col("r_exp"))
            .count()
        )
        assert mism == 0, f"desc={desc}"
    spark.catalog.clearCache()


def test_explicit_null_ordering_decomposition(spark):
    """Non-default NULLS orderings pass through the SortOrder decomposition
    (desc_nulls_first / asc_nulls_last) and match the single-window form."""
    rows = [(i, None if i % 7 == 0 else (i * 13) % 101) for i in range(2000)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(8)
    for order in (F.col("v").desc_nulls_first(), F.col("v").asc_nulls_last()):
        exp = df.withColumn("rn", F.row_number().over(Window.orderBy(order, "id")))
        got = global_row_number(df, [order, F.col("id").asc()], "rn", num_partitions=8)
        mism = (
            exp.select("id", F.col("rn").alias("rn_exp"))
            .join(got.select("id", "rn"), "id")
            .filter(F.col("rn") != F.col("rn_exp"))
            .count()
        )
        assert mism == 0, str(order)
    spark.catalog.clearCache()


def test_two_phase_correct_with_aqe_disabled(spark):
    """Regression gate for the round-4 false-pin find: spark_partition_id()
    is nondeterministic, so the stamped pid frame's consumer plans never
    canonically match — a persist() pin is silently bypassed (CacheManager
    lookup misses) and ReuseExchange can't fire above the stamp. The family
    survived only via AQE's runtime stage-level reuse of the deterministic
    exchange BELOW the stamp; with AQE off each branch sampled its own
    range boundaries and the composed cumsum was wrong on 12k of 15k rows.
    This runs the composition in a sibling session (same JVM, own SQLConf)
    with adaptive execution OFF and a partition count that forces multiple
    boundary samples, against the single-window form."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "5")
    n = 15_000
    df = s2.range(n).repartition(8).select(
        F.col("id"),
        (F.pmod(F.hash(F.col("id")), F.lit(100_000)) / 7.0).alias("v"),
        (F.col("id") % 3).cast("long").alias("x"),
    )
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.select(
        "id",
        F.sum("x").over(w).alias("cx_exp"),
        F.sum("v").over(w).alias("cv_exp"),
        F.rank().over(Window.orderBy("v")).alias("r_exp"),
    )
    spec = [F.col("v").asc(), F.col("id").asc()]
    got = global_cumsum(df, spec, ["x", "v"], ["cx", "cv"])
    got = global_rank(got, "v", "r", descending=False)
    joined = exp.join(got.select("id", "cx", "cv", "r"), "id")
    bad = joined.filter(
        (F.col("cx") != F.col("cx_exp"))
        | (F.abs(F.col("cv") - F.col("cv_exp")) > 1e-6)
        | (F.col("r") != F.col("r_exp"))
    ).count()
    assert bad == 0
    assert joined.count() == n


def test_boundary_prefix_truncation_and_adaptive_pids(spark):
    """Internals of the round-5 tuning: boundaries shrink to the shortest
    strictly-increasing column prefix (near-unique lead column -> 1-tuples),
    and the adaptive pid count floors at 2 so the pid expression never
    folds to a constant (which would re-plan the window exchange as
    SinglePartition)."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    keys = R._parse_spec(["a", "b"], False)
    # unique lead column: truncate to 1-tuples
    assert R._truncate_prefix([(1, 9), (2, 1), (3, 5)], keys) == [(1,), (2,), (3,)]
    # tied lead column: full tuples survive
    full = [(1, 1), (1, 2), (2, 0)]
    assert R._truncate_prefix(full, keys) == full
    assert R._truncate_prefix([], keys) == []

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    out = global_rank(df, "v", "r")  # n=1000 -> adaptive 2 pids
    from amazon_fresh_sql_data_engineering_spark.plans import explain as X

    plan = X.physical_plan(out)
    assert "SinglePartition" not in plan, plan[:1500]
    exp = df.withColumn("r", F.rank().over(Window.orderBy(F.col("v").desc())))
    assert {(x.id, x.r) for x in out.collect()} == {(x.id, x.r) for x in exp.collect()}
    spark.catalog.clearCache()


def test_plain_column_spec_respects_descending_flag(spark):
    """A bare Column (no .asc()/.desc()) in the ordering spec takes its
    direction from the operator-level descending flag, like a string."""
    df = spark.range(500).select(F.col("id"), (F.col("id") % 13).alias("v"))
    exp = df.withColumn(
        "r", F.rank().over(Window.orderBy(F.col("v").desc(), F.col("id").desc()))
    )
    got = global_rank(df, [F.col("v"), F.col("id")], "r", descending=True)
    assert {(x.id, x.r) for x in exp.collect()} == {(x.id, x.r) for x in got.collect()}
    spark.catalog.clearCache()


def test_sql_tree_matches_column_tree_across_types(spark):
    """The large-P SQL-string rendering of the pid tree must agree with the
    Column-API tree on every whitelisted literal type, including the nasty
    ones (quotes/backslashes in strings, NaN, NULL boundaries, dates,
    timestamps, decimals, booleans, bytes)."""
    import datetime
    import decimal

    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    rows = []
    for i in range(300):
        rows.append((
            i,
            None if i % 11 == 0 else float("nan") if i % 13 == 0 else (i * 37 % 97) / 3.0,
            None if i % 7 == 0 else f"x{i % 23}'\\{i % 5}",
            datetime.date(2024, 1 + i % 12, 1 + i % 28),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i * 977),
            decimal.Decimal(i % 41) / 100,
            i % 2 == 0,
            bytes([i % 251, (i * 7) % 251]),
        ))
    df = spark.createDataFrame(
        rows,
        "id int, f double, s string, d date, t timestamp, m decimal(10,2), b boolean, y binary",
    )
    for colname in ("f", "s", "d", "t", "m", "b", "y"):
        keys = R._parse_spec([colname, "id"], False)
        sample = [tuple(r) for r in df.select(colname, "id").collect()]
        import functools

        cmp = R._make_cmp(keys)
        ordered = sorted(sample, key=functools.cmp_to_key(cmp))
        picks = []
        for i in range(10, len(ordered) - 1, 17):  # strictly increasing picks
            if not picks or cmp(picks[-1], ordered[i]) < 0:
                picks.append(ordered[i])
        clean = R._truncate_prefix(picks, keys)
        if not clean:
            continue
        sql = R._pid_expr_sql(keys, clean)
        assert sql is not None, colname

        def col_tree(lo, hi):
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(R._after(keys, clean[mid]), col_tree(mid + 1, hi)).otherwise(
                col_tree(lo, mid)
            )

        got = df.select(
            "id",
            F.expr(sql).alias("p_sql"),
            col_tree(0, len(clean)).alias("p_col"),
        )
        bad = got.filter(~F.col("p_sql").eqNullSafe(F.col("p_col"))).count()
        assert bad == 0, colname


def test_persist_pin_eviction_recomputes_correctly(spark):
    """Fault-tolerance property the deterministic design claims (VERDICT r5
    item 6): the persist pin is an optimization, not a correctness fence.
    Evicting the cached blocks AFTER the boundary jobs materialized them
    (executor loss / memory pressure) forces every consumer branch to
    recompute the input through lineage — and because pid is a pure literal
    function of the key, the recomputed branches still agree."""
    df = spark.range(20_000).select(
        F.col("id"),
        (F.pmod(F.hash("id"), F.lit(913)) / 3.0).alias("v"),
        (F.col("id") % 4).cast("long").alias("x"),
    )
    spec = [F.col("v").asc(), F.col("id").asc()]
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.select(
        "id",
        F.sum("x").over(w).alias("cx_exp"),
        F.rank().over(Window.orderBy("v")).alias("r_exp"),
    )
    # build with the default persist pin: the internal count() job has
    # already materialized the cache by the time the operators return
    got = global_cumsum(df, spec, "x", "cx", num_partitions=16)
    got = global_rank(got, "v", "r", descending=False, num_partitions=16)
    # simulate eviction of EVERY pinned block before any consumer action ran
    spark.catalog.clearCache()
    joined = exp.join(got.select("id", "cx", "r"), "id")
    bad = joined.filter(
        (F.col("cx") != F.col("cx_exp")) | (F.col("r") != F.col("r_exp"))
    ).count()
    assert bad == 0
    assert joined.count() == 20_000
    spark.catalog.clearCache()


def test_decompose_public_fallback_without_column_node(spark, monkeypatch):
    """VERDICT r5 item 3: a pyspark internals change (Column loses node())
    must not break the two-phase family. With the probe gone, string specs
    and PLAIN Columns still build and match the single-window form; only an
    explicit SortOrder Column — whose child can't be extracted publicly —
    raises the guidance ValueError."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    def boom(c):
        raise RuntimeError("simulated: Column node() unavailable on this build")

    monkeypatch.setattr(R, "_column_node", boom)
    df = spark.range(3_000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(97))).alias("v")
    )
    exp = df.withColumn(
        "r", F.rank().over(Window.orderBy(F.col("v").desc(), F.col("id").desc()))
    )
    for spec in (["v", "id"], [F.col("v"), F.col("id")]):
        got = global_rank(df, spec, "r", descending=True, num_partitions=8)
        assert {(x.id, x.r) for x in got.collect()} == {
            (x.id, x.r) for x in exp.collect()
        }, spec
    with pytest.raises(ValueError, match="SortOrder"):
        global_rank(df, [F.col("v").desc()], "r")
    spark.catalog.clearCache()


def test_timestamp_keys_survive_hostile_session_timezone(spark):
    """ADVICE r5: timestamp ordering keys are compared as epoch micros (TZ)
    or fixed-width wall-clock strings (NTZ), never as naive-datetime
    literals, so a session timezone that disagrees with the driver OS
    timezone — including DST-folding zones — cannot shift or reorder the
    boundary literals. Asserts parity vs the single-window form under
    America/New_York with boundaries forced around DST transitions, and
    that the rewrite actually engages in the plan."""
    import datetime

    from amazon_fresh_sql_data_engineering_spark.plans import explain as X

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        base = datetime.datetime(2024, 3, 9, 22, 0, 0)  # spans 2024-03-10 DST jump
        rows = [
            (i, base + datetime.timedelta(minutes=7 * i, microseconds=i % 3))
            for i in range(4_000)
        ]
        for dtype, marker in (("timestamp", "unix_micros"), ("timestamp_ntz", "date_format")):
            df = spark.createDataFrame(rows, f"id int, ts {dtype}").repartition(8)
            got = global_row_number(
                df, [F.col("ts").asc(), F.col("id").asc()], "rn", num_partitions=8
            )
            assert marker in X.physical_plan(got), (dtype, marker)
            exp = df.withColumn("rn", F.row_number().over(Window.orderBy("ts", "id")))
            mism = (
                exp.select("id", F.col("rn").alias("rn_exp"))
                .join(got.select("id", "rn"), "id")
                .filter(F.col("rn") != F.col("rn_exp"))
                .count()
            )
            assert mism == 0, dtype
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.catalog.clearCache()


def test_composite_ordering_keys_rejected(spark):
    """Array/struct/map ordering keys are rejected at build time: the
    driver-side boundary sort can't be proven to match Spark's composite
    ordering (None elements even raise TypeError in Python list compare),
    and a silent disagreement would compose wrong ranks."""
    df = spark.range(100).select(
        F.col("id"),
        F.array(F.col("id"), F.col("id") % 3).alias("arr"),
        F.struct(F.col("id").alias("a")).alias("st"),
    )
    for col in ("arr", "st"):
        with pytest.raises(ValueError, match="composite ordering key"):
            global_rank(df, [col, "id"], "r")
    spark.catalog.clearCache()


def test_boundary_sample_covers_clustered_keys(spark):
    """ADVICE r5: the sample path must not truncate to the earliest
    partitions (the old sample().limit() did) — for key-clustered input the
    boundaries must span the whole key range, not a prefix."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    n = 60_000
    # keys perfectly clustered across input partitions: partition i holds
    # ids [i*chunk, (i+1)*chunk)
    df = spark.range(n).repartitionByRange(16, "id").select(F.col("id"))
    keys = R._parse_spec(["id"], False)
    bnds = R._boundaries(df, keys, 16, n)
    assert len(bnds) >= 8
    # top boundary must sit in the upper half of the key range — a
    # prefix-only sample would cap out near target_rows/n of the range
    assert bnds[-1][0] > n // 2, bnds
    spark.catalog.clearCache()


def test_sql_tree_engages_for_wrapped_timestamp_keys(spark):
    """The timestamp rewrites (unix_micros / date_format) must not silently
    disable the large-P SQL-string fast path: the renderer whitelists the
    two wrapped forms (_WRAPPED_RE), backtick-quotes the inner identifier,
    and must agree with the Column tree row-for-row."""
    import datetime
    import functools

    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(seconds=i * 977)) for i in range(400)]
    for dtype in ("timestamp", "timestamp_ntz"):
        df = spark.createDataFrame(rows, f"id int, ts {dtype}")
        keys = R._comparison_keys(df, R._parse_spec(["ts", "id"], False))
        sample = [tuple(r) for r in R._sel_keys(df, keys).collect()]
        cmp = R._make_cmp(keys)
        ordered = sorted(sample, key=functools.cmp_to_key(cmp))
        picks = [ordered[i] for i in range(20, len(ordered) - 1, 40)]
        clean = R._truncate_prefix(picks, keys)
        sql = R._pid_expr_sql(keys, clean)
        assert sql is not None, dtype  # whitelist engaged, no silent fallback
        assert "`ts`" in sql, sql[:200]

        def col_tree(lo, hi, _keys=keys, _clean=clean):
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                R._after(_keys, _clean[mid]), col_tree(mid + 1, hi)
            ).otherwise(col_tree(lo, mid))

        got = df.select(
            F.expr(sql).alias("p_sql"), col_tree(0, len(clean)).alias("p_col")
        )
        assert got.filter(~F.col("p_sql").eqNullSafe(F.col("p_col"))).count() == 0, dtype


def test_large_partition_count_uses_sql_tree(spark):
    """Cluster-like pid counts (512 boundaries) exercise the SQL-string
    tree rendering end-to-end: parity vs the single-window form and the
    renderer actually engaging (not silently falling back)."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    n = 200_000
    df = spark.range(n).repartition(16).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(50_000)) / 7.0).alias("v")
    )
    keys = R._parse_spec([F.col("v").asc(), F.col("id").asc()], False)
    bnds = R._boundaries(df, keys, 512, n)
    assert len(bnds) > R._SQL_TREE_MIN
    assert R._pid_expr_sql(keys, bnds) is not None  # whitelist path engaged
    got = global_rank(df, [F.col("v").asc(), F.col("id").asc()], "r",
                      descending=False, num_partitions=512)
    exp = df.withColumn("r_exp", F.rank().over(Window.orderBy("v", "id")))
    bad = exp.join(got.select("id", "r"), "id").filter(
        F.col("r") != F.col("r_exp")
    ).count()
    assert bad == 0
    spark.catalog.clearCache()


def test_probe_cache_one_probe_per_distinct_input(spark):
    """Session boundary cache (VERDICT r6 item 5): composing several ranking
    ops over the same input + ordering pays the build-time probe job once;
    a different ordering or input is a separate entry; results unchanged."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    R.clear_probe_cache()
    df = spark.range(5000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(97)) * 1.0).alias("v")
    )
    got_rank = global_rank(
        df, [F.col("v").asc(), F.col("id").asc()], "rk", descending=False, pin=None
    )
    assert (R._PROBE_CACHE_MISSES, R._PROBE_CACHE_HITS) == (1, 0)
    got_rn = R.global_row_number(
        df, [F.col("v").asc(), F.col("id").asc()], "rn", pin=None
    )
    # same input, same ordering -> cache hit, no second probe job
    assert (R._PROBE_CACHE_MISSES, R._PROBE_CACHE_HITS) == (1, 1)
    # different ordering -> distinct entry
    R.global_rank(df, [F.col("id").desc()], "rk2", pin=None)
    assert R._PROBE_CACHE_MISSES == 2
    # cached boundaries still produce exact global results
    exp = df.withColumn("rk_exp", F.rank().over(Window.orderBy("v", "id"))).withColumn(
        "rn_exp", F.row_number().over(Window.orderBy("v", "id"))
    )
    j = (
        exp.join(got_rank.select("id", "rk"), "id")
        .join(got_rn.select("id", "rn"), "id")
    )
    assert j.filter((F.col("rk") != F.col("rk_exp")) | (F.col("rn") != F.col("rn_exp"))).count() == 0
    R.clear_probe_cache()
    spark.catalog.clearCache()


def test_probe_cache_stale_boundaries_still_correct(spark):
    """The safety property the cache leans on: a pid expression is correct
    for ANY boundary literal set. Seed the cache from one distribution,
    then rank a DIFFERENT distribution through a plan with the same
    fingerprint shape — results must still be exact (balance, not
    correctness, is what staleness costs)."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    R.clear_probe_cache()
    a = spark.range(2000).select((F.col("id") % 13).alias("v"), F.col("id"))
    R.global_rank(a, [F.col("v").asc(), F.col("id").asc()], "rk",
                  descending=False, pin=None).count()
    misses0 = R._PROBE_CACHE_MISSES
    # same logical shape, same source: a re-build must hit and stay exact
    a2 = spark.range(2000).select((F.col("id") % 13).alias("v"), F.col("id"))
    got = R.global_rank(a2, [F.col("v").asc(), F.col("id").asc()], "rk",
                        descending=False, pin=None)
    assert R._PROBE_CACHE_MISSES == misses0  # no new probe
    exp = a2.withColumn("rk_exp", F.rank().over(Window.orderBy("v", "id")))
    assert exp.join(got.select("id", "rk"), "id").filter(
        F.col("rk") != F.col("rk_exp")
    ).count() == 0
    R.clear_probe_cache()
    spark.catalog.clearCache()


def test_probe_cache_stats_public_surface(spark):
    """probe_cache_stats() is the supported observability hook (ADVICE r7)
    — entries/hits/misses track the module counters and zero on
    clear_probe_cache()."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    R.clear_probe_cache()
    assert R.probe_cache_stats() == {"entries": 0, "hits": 0, "misses": 0}
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    R.global_rank(df, [F.col("v").asc(), F.col("id").asc()], "rk",
                  descending=False, pin=None)
    R.global_rank(df, [F.col("v").asc(), F.col("id").asc()], "rk",
                  descending=False, pin=None)
    s = R.probe_cache_stats()
    assert s["misses"] == 1 and s["hits"] == 1 and s["entries"] == 1
    R.clear_probe_cache()
    assert R.probe_cache_stats() == {"entries": 0, "hits": 0, "misses": 0}


def test_probe_cache_user_key_bridges_checkpoint_fences(spark):
    """cache_key (VERDICT r7 item 8): an explicit content key hits across
    localCheckpoint fences where the semantic hash cannot (every checkpoint
    is a fresh plan identity); results stay exact either way, and a STALE
    user key still yields exact results (balance-only staleness — the
    monotone-pid argument is key-independent)."""
    from amazon_fresh_sql_data_engineering_spark.operators import ranking as R

    R.clear_probe_cache()
    a = spark.range(3000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(101)) * 1.0).alias("v")
    ).localCheckpoint(eager=True)
    g1 = R.global_ntile(a, 4, [F.col("v").asc(), F.col("id").asc()], "q",
                        pin=None, cache_key="t:x")
    g1.count()
    s = R.probe_cache_stats()
    assert (s["misses"], s["hits"]) == (1, 0)
    # a DIFFERENT checkpoint of the same data: semantic hash differs, the
    # user key hits
    b = spark.range(3000).select(
        F.col("id"), (F.pmod(F.hash("id"), F.lit(101)) * 1.0).alias("v")
    ).localCheckpoint(eager=True)
    g2 = R.global_ntile(b, 4, [F.col("v").asc(), F.col("id").asc()], "q",
                        pin=None, cache_key="t:x")
    s = R.probe_cache_stats()
    assert (s["misses"], s["hits"]) == (1, 1)
    # stale-key correctness: reuse the key over a DIFFERENT distribution
    c = spark.range(3000).select(
        F.col("id"), (F.col("id") % 7 * 1.0).alias("v")
    ).localCheckpoint(eager=True)
    g3 = R.global_ntile(c, 4, [F.col("v").asc(), F.col("id").asc()], "q",
                        pin=None, cache_key="t:x")
    exp3 = c.withColumn("q_exp", F.ntile(4).over(Window.orderBy("v", "id")))
    assert exp3.join(g3.select("id", "q"), "id").filter(
        F.col("q") != F.col("q_exp")
    ).count() == 0
    exp2 = b.withColumn("q_exp", F.ntile(4).over(Window.orderBy("v", "id")))
    assert exp2.join(g2.select("id", "q"), "id").filter(
        F.col("q") != F.col("q_exp")
    ).count() == 0
    # different key signature under the same user key -> separate entry
    R.global_rank(a, [F.col("id").desc()], "rk", pin=None, cache_key="t:x")
    assert R.probe_cache_stats()["entries"] >= 2
    R.clear_probe_cache()
    spark.catalog.clearCache()


@pytest.mark.parametrize("n_rows", [1, 2, 3, 7, 100, 1001])
def test_ntile_grid_matches_native(spark, n_rows):
    """The one-pass offset+total metadata build against native NTILE over
    every remainder shape: rows < n, rows == n, rows % n != 0, and pid
    counts from the adaptive default up to more pids than rows."""
    df = spark.range(n_rows).select(
        F.col("id").cast("int").alias("id"), (F.col("id") * 7 % 5).cast("int").alias("v")
    )
    w = Window.orderBy("v", "id")
    ns = (1, 3, 4, 10)
    exp_rows = df.select("id", *[F.ntile(n).over(w).alias(f"t{n}") for n in ns]).collect()
    exp = {n: {(r.id, r[f"t{n}"]) for r in exp_rows} for n in ns}
    spec = [F.col("v").asc(), F.col("id").asc()]
    bad = []
    for parts in (None, 2, 5, 16):
        for n in ns:
            got = global_ntile(df, n, spec, "t", num_partitions=parts)
            if {(r.id, r.t) for r in got.collect()} != exp[n]:
                bad.append((n, parts))
    assert bad == []
