"""Sink/layout tests: partition pruning, shuffle-free bucketed joins,
snapshot publish and compaction swap semantics — the storage-side 100 TB
levers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from amazon_fresh_sql_data_engineering_spark.plans import explain as X
from amazon_fresh_sql_data_engineering_spark.sources import load_table, sinks


def test_ctas_roundtrip(spark, sf_dir, tmp_path):
    p = str(tmp_path / "region_copy")
    region = load_table(spark, sf_dir, "region")
    sinks.ctas(region, p)
    assert spark.read.parquet(p).count() == region.count()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    p = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    sinks.ctas_partitioned(orders, p, ["o_orderstatus"])
    assert os.path.isdir(f"{p}/o_orderstatus=F")
    pruned = spark.read.parquet(p).filter(F.col("o_orderstatus") == "F")
    plan = X.physical_plan(pruned)
    # partition filter must appear as PartitionFilters, not a post-scan Filter
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1].split("\n")[0]
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    sinks.ctas_bucketed(spark, orders, "orders_b", "o_orderkey", 8)
    sinks.ctas_bucketed(
        spark,
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        "o_orderkey",
        8,
    )
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, on="o_orderkey").groupBy("o_orderstatus").count()
        plan = X.physical_plan(joined)
        # bucketing pre-shuffled both sides: the ONLY Exchange left is the
        # one under the post-join groupBy — none feeding the join
        assert "SortMergeJoin" in plan
        assert X.shuffle_count(joined) == 1, plan[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_analyze_table_populates_stats(spark, sf_dir):
    region = load_table(spark, sf_dir, "region")
    region.write.mode("overwrite").saveAsTable("region_stats_t")
    try:
        sinks.analyze_table(spark, "region_stats_t", ["r_regionkey"])
        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED region_stats_t").collect()
        }
        assert "Statistics" in desc and "rows" in desc["Statistics"]
    finally:
        spark.sql("DROP TABLE IF EXISTS region_stats_t")


def test_pipe_clean_publish_partitioned_prunes(spark, sf_dir, tmp_path):
    """PIPE-CLEAN step 7: the cleaned orders table publishes DATE-PARTITIONED
    (one dir per order month) and a half-open range read prunes partitions
    at the driver (PartitionFilters) while the exact date bound pushes to
    the scan (PushedFilters) — the reference's A:253-254 half-open-range
    habit made layout-aware."""
    from amazon_fresh_sql_data_engineering_spark.pipelines.cleaning import (
        publish_cleaned,
        read_cleaned_range,
    )
    from amazon_fresh_sql_data_engineering_spark.queries_etl import _staged_orders
    from amazon_fresh_sql_data_engineering_spark.pipelines.cleaning import clean_entity
    from amazon_fresh_sql_data_engineering_spark.pipelines.entities import spec_orders

    cleaned = clean_entity(_staged_orders(spark, sf_dir), spec_orders()).final
    p = str(tmp_path / "orders_clean")
    publish_cleaned(cleaned, p, "orderdate", grain="month")
    assert os.path.isdir(f"{p}/orderdate_month=2024-01")

    rng = read_cleaned_range(spark, p, "orderdate", "2024-01-01", "2024-02-01")
    plan = X.physical_plan(rng)
    pf = plan.split("PartitionFilters", 1)[1].split("\n")[0]
    assert "orderdate_month" in pf
    assert "PushedFilters" in plan and "orderdate" in plan.split("PushedFilters", 1)[1].split("\n")[0]
    expect = cleaned.filter(
        (F.col("orderdate") >= F.lit("2024-01-01").cast("date"))
        & (F.col("orderdate") < F.lit("2024-02-01").cast("date"))
    ).count()
    assert rng.count() == expect > 0


def test_zorder_write_narrows_file_stats(spark, sf_dir, tmp_path):
    """Z-order clustering must narrow per-file min/max ranges on BOTH
    cluster columns vs a hash-layout write — that's the whole point: any
    single-column filter then skips most files on parquet footer stats."""
    import glob

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    def avg_norm_range(path):
        spans = []
        for col in ["o_custkey", "o_totalprice"]:
            g = orders.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
            width = float(g.hi) - float(g.lo)
            per_file = []
            for f in sorted(glob.glob(f"{path}/part-*.parquet")):
                st = spark.read.parquet(f).agg(
                    F.min(col).alias("lo"), F.max(col).alias("hi")
                ).collect()[0]
                per_file.append((float(st.hi) - float(st.lo)) / width)
            spans.append(sum(per_file) / len(per_file))
        return spans

    zpath = str(tmp_path / "orders_z")
    sinks.ctas_zordered(orders, zpath, ["o_custkey", "o_totalprice"], bits=8, num_files=8)
    hpath = str(tmp_path / "orders_h")
    orders.repartition(8).write.parquet(hpath)

    z_spans, h_spans = avg_norm_range(zpath), avg_norm_range(hpath)
    # hash layout: every file spans ~the full range of both columns
    assert all(s > 0.8 for s in h_spans), h_spans
    # z-order: both columns substantially narrowed per file
    assert sum(z_spans) < 0.7 * sum(h_spans), (z_spans, h_spans)
    assert all(s < 0.8 for s in z_spans), z_spans
    # row preservation
    assert spark.read.parquet(zpath).count() == orders.count()


def test_zorder_read_path_skips_row_groups(spark, sf_dir, tmp_path):
    """End-to-end skipping proof: a selective filter through Spark's own
    parquet reader decodes FAR fewer rows from the z-ordered layout than
    from a hash layout (pushed min/max filters prune whole row groups
    before decode — the scan node's numOutputRows metric counts decoded
    rows). This is the read-side payoff the write-side stats test above
    only implies."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, hpath = str(tmp_path / "z"), str(tmp_path / "h")
    sinks.ctas_zordered(
        orders, zpath, ["o_custkey", "o_totalprice"], bits=8, num_files=16
    )
    orders.repartition(16).write.parquet(hpath)

    lo, hi = 10, 25  # ~10% of the custkey range

    def decoded_rows(path):
        df = spark.read.parquet(path).filter(
            (F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi)
        )
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return total

    z_rows, h_rows = decoded_rows(zpath), decoded_rows(hpath)
    n = orders.count()
    # hash layout spreads the key range over every file: no skipping
    assert h_rows == n, (h_rows, n)
    # z-ordered layout: most row groups pruned by footer stats
    assert z_rows < 0.5 * h_rows, (z_rows, h_rows)
    # identical query results from both layouts
    zr = {r.o_orderkey for r in spark.read.parquet(zpath).filter(
        (F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi)).collect()}
    hr = {r.o_orderkey for r in spark.read.parquet(hpath).filter(
        (F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi)).collect()}
    assert zr == hr and zr


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "frag")
    # simulate a small-file problem: 64 tiny files
    orders.repartition(64).write.parquet(path)
    import glob

    assert len(glob.glob(f"{path}/part-*")) == 64
    before_rows = spark.read.parquet(path).count()
    before_sum = spark.read.parquet(path).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    ).collect()[0].s

    nb, na = sinks.compact_files(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert nb == 64 and na < 8, (nb, na)
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert after.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    ).collect()[0].s == before_sum


def test_compaction_with_sort_keeps_stats_tight(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    path = str(tmp_path / "frag2")
    orders.repartition(32).write.parquet(path)
    sinks.compact_files(
        spark, path, target_file_bytes=24 * 1024, sort_within_by=["o_custkey"]
    )
    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 2
    # range-partitioned + sorted output: per-file custkey spans are disjoint-ish
    spans = []
    for f in files:
        st = spark.read.parquet(f).agg(
            F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi")
        ).collect()[0]
        spans.append((st.lo, st.hi))
    spans.sort()
    overlaps = sum(1 for (a, b) in zip(spans, spans[1:]) if a[1] > b[0])
    assert overlaps <= len(spans) // 4, spans


def test_dynamic_partition_pruning_on_fact_dim_join(spark, sf_dir, tmp_path):
    """The 100 TB fact-dim pattern: fact partitioned on the join key, dim
    filtered on an attribute the scan can't see statically. Dynamic
    partition pruning must inject the dim's surviving keys into the fact
    scan's PartitionFilters at runtime — without it, the fact scan reads
    every partition and filters post-join."""
    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_by_prio")
    orders.write.partitionBy("o_orderpriority").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
         ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")],
        "o_orderpriority string, tier string",
    )
    joined = (
        fact.join(dim.filter(F.col("tier") == "hot"), on="o_orderpriority")
        .groupBy("o_orderpriority")
        .count()
    )
    plan = X.physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    got = {r.o_orderpriority: r["count"] for r in joined.collect()}
    exp = {
        r.o_orderpriority: r["count"]
        for r in orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        ).groupBy("o_orderpriority").count().collect()
    }
    assert got == exp


def test_jsonl_round_trip_and_corrupt_quarantine(spark, sf_dir, tmp_path):
    """JSONL out -> JSONL in with explicit schema must round-trip the
    documents table; corrupt lines become _corrupt_record rows, never a
    failed job."""
    import json
    import os

    from amazon_fresh_sql_data_engineering_spark.sources.loaders import (
        load_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents")
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, p, partitions=4)
    back = load_jsonl(
        spark, p,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).cache()  # Spark disallows querying ONLY _corrupt_record off a raw scan
    assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 0
    a = {r.doc_id: r.text for r in docs.collect()}
    b = {r.doc_id: r.text for r in back.collect()}
    assert a == b
    # drop the cache: the second read has a plan-identical scan, and Spark's
    # cache manager would serve it the pre-injection file listing
    back.unpersist(blocking=True)
    # inject a corrupt line plus a valid one into a new file
    extra = os.path.join(p, "part-extra.json")
    with open(extra, "w") as f:
        f.write(json.dumps({"doc_id": 999999, "text": "ok", "lang": "en",
                            "source": "manual", "n_chars": 2}) + "\n")
        f.write("{this is not json\n")
    again = load_jsonl(
        spark, p,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).cache()
    assert again.filter(F.col("doc_id") == 999999).count() == 1
    bad = again.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1


def test_versioned_snapshots_time_travel_rollback_vacuum(spark, sf_dir, tmp_path):
    """MVCC contract of the snapshot layer: publishes are atomic pointer
    swaps, old snapshots stay readable (time travel), rollback is O(1),
    vacuum never deletes the pointed-at snapshot."""
    from amazon_fresh_sql_data_engineering_spark.sources import versioned as V

    t = str(tmp_path / "nation_versioned")
    nation = load_table(spark, sf_dir, "nation")
    assert V.current_version(t) is None
    v1 = V.write_snapshot(nation, t)
    v2 = V.write_snapshot(nation.filter(F.col("n_regionkey") != 0), t)
    assert (v1, v2) == (1, 2) and V.current_version(t) == 2
    n_all = nation.count()
    n_f = nation.filter(F.col("n_regionkey") != 0).count()
    assert V.read_snapshot(spark, t).count() == n_f
    assert V.read_snapshot(spark, t, version=1).count() == n_all  # time travel
    # a reader holding the old snapshot survives a concurrent publish
    pinned = V.read_snapshot(spark, t, version=1)
    v3 = V.write_snapshot(nation.limit(3), t)
    assert pinned.count() == n_all and V.current_version(t) == 3
    # O(1) rollback: pointer moves, data doesn't
    V.rollback(t, 1)
    assert V.read_snapshot(spark, t).count() == n_all
    # vacuum keeps the newest keep_last AND the pointed-at snapshot
    removed = V.vacuum(t, keep_last=1)
    assert removed == [2]
    assert sorted(V.list_versions(t)) == [1, 3]
    assert V.read_snapshot(spark, t).count() == n_all
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, t, version=2)
    # writes continue from the high-water mark, never reusing a version
    assert V.write_snapshot(nation, t) == 4


# ---------------------------------------------------------------------------
# Z-order clustering (sources/layout.py)
# ---------------------------------------------------------------------------


def test_zorder_rank_and_key_units(spark):
    """The two pure pieces: quantile-rank comparison tree (count of
    boundaries <= value, NULL -> 0) and Morton bit interleaving."""
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    df = spark.createDataFrame(
        [(5.0,), (10.0,), (15.0,), (30.0,), (None,)], "v double"
    )
    got = [
        r["r"]
        for r in df.select(L._rank_expr(F.col("v"), [10.0, 20.0, 30.0]).alias("r"))
        .collect()
    ]
    assert got == [0, 1, 1, 3, 0]
    # ranks (0b10, 0b01) with 2 bits -> z = 0b0110 = 6
    one = spark.createDataFrame([(2, 1)], "a int, b int")
    z = one.select(L.zorder_key([F.col("a"), F.col("b")], 2).alias("z")).first()["z"]
    assert z == 6
    import pytest

    with pytest.raises(ValueError, match="exceeds a long"):
        L.zorder_key([F.col("a")] * 8, 8)


def test_zorder_write_bounds_every_clustering_column(spark, sf_dir, tmp_path):
    """The data-skipping evidence, read from the parquet footers themselves:
    a linear sort bounds its leading column and DESTROYS the second
    (per-file ranges span nearly the whole domain), while the z-order
    bounds BOTH — the property file-level skipping and row-group skipping
    consume. Content is preserved exactly (pure reordering)."""
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    cols = ["l_orderkey", "l_partkey"]
    unclustered = str(tmp_path / "plain")
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    li.repartition(8).write.parquet(unclustered)
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(linear)
    )
    L.zorder_write(li, zordered, cols, bits=8, num_files=8)

    # content preserved: same multiset of rows
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in li.columns])
    h = lambda p: (  # noqa: E731
        spark.read.parquet(p).select(F.sum(F.crc32(key)).alias("s"),
                                     F.count(F.lit(1)).alias("n")).first()
    )
    assert h(zordered) == h(unclustered)

    rng = lambda p, c: L.avg_normalized_range(p, c)  # noqa: E731
    # linear nails its leading column, spans the domain on the second
    assert rng(linear, "l_orderkey") < 0.25
    assert rng(linear, "l_partkey") > 0.6
    # z-order bounds BOTH well below the unclustered/linear second column
    z_ok, z_pk = rng(zordered, "l_orderkey"), rng(zordered, "l_partkey")
    assert z_ok < 0.6 and z_pk < 0.6, (z_ok, z_pk)
    assert z_pk < rng(linear, "l_partkey") / 1.5
    assert rng(unclustered, "l_partkey") > 0.6


def test_zorder_write_fixed_matches_sampled_layout(spark, sf_dir, tmp_path):
    """r11 opt: the fixed-boundary z-order write (no range-sampling pass)
    preserves row content, produces one file per non-empty z-chunk with no
    leftover partition directories, and bounds BOTH clustering columns'
    per-file footer ranges like the sampled form (the property the layout
    exists for)."""
    import glob

    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    cols = ["l_orderkey", "l_partkey"]
    sampled = str(tmp_path / "sampled")
    fixed = str(tmp_path / "fixed")
    L.zorder_write(li, sampled, cols, bits=8, num_files=8)
    L.zorder_write_fixed(li, fixed, cols, bits=8, num_files=8)

    # content preserved: same multiset of rows as the sampled form
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in li.columns])
    h = lambda p: (  # noqa: E731
        spark.read.parquet(p).select(
            F.sum(F.crc32(key)).alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
    )
    assert h(fixed) == h(sampled)

    # flat layout restored: 8 plain part files, no __z_file= dirs left
    assert len(glob.glob(f"{fixed}/part-*.parquet")) == 8
    assert glob.glob(f"{fixed}/__z_file=*") == []

    # locality: both columns bounded, same gate the sampled form passes
    assert L.avg_normalized_range(fixed, "l_orderkey") < 0.6
    assert L.avg_normalized_range(fixed, "l_partkey") < 0.6


def test_compaction_zorder_mode(spark, sf_dir, tmp_path):
    """OPTIMIZE ... ZORDER BY: compaction re-clusters on the Morton curve,
    so the compacted files bound BOTH listed columns' footer stats."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L
    from amazon_fresh_sql_data_engineering_spark.sources import sinks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    path = str(tmp_path / "t")
    li.repartition(64).write.parquet(path)  # accreted small files
    before, after = sinks.compact_files(
        spark, path, target_file_bytes=16 * 1024, zorder_by=["l_orderkey", "l_partkey"]
    )
    assert before == 64 and 1 < after < 64
    assert spark.read.parquet(path).count() == li.count()
    assert L.avg_normalized_range(path, "l_orderkey") < 0.7
    assert L.avg_normalized_range(path, "l_partkey") < 0.7
    with pytest.raises(ValueError, match="exclusive"):
        sinks.compact_files(spark, path, sort_within_by=["l_orderkey"],
                            zorder_by=["l_partkey"])


def test_zorder_string_column_clusters(spark, tmp_path):
    """String clustering columns go through an order-preserving prefix
    proxy (self-review r8: a plain double cast nulled every string and
    silently dropped the column from the curve); unsupported types raise."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    rows = [(i, chr(ord("a") + i % 8) + f"_{i}", float(i % 97)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, region string, price double")
    path = str(tmp_path / "z")
    # 64 files = 6 z-bits = ~3 high bits per column: each file should
    # span ~1-2 of the 8 region prefixes (a nulled-out column would leave
    # every file spanning all 8)
    L.zorder_write(df, path, ["region", "price"], bits=8, num_files=64)
    assert spark.read.parquet(path).count() == 4000
    spans = []
    for r in L.file_column_ranges(path, ["region"]):
        lo, hi = r["region"]
        spans.append(ord(hi[0]) - ord(lo[0]) + 1)
    # measured ~2.8 (range-boundary straddling); the nulled-column
    # failure mode this guards against is ~8.0
    assert sum(spans) / len(spans) <= 3.5, spans
    with pytest.raises(ValueError, match="unsupported type"):
        L.zorder_frame(
            df.withColumn("arr", F.array(F.lit(1))), ["arr"], num_files=2
        )


def test_zorder_morton_fusion_matches_reference_key(spark):
    """r9 perf fix: the Morton spread is folded into the rank tree's leaf
    literals (one tree descent per column per row) — the fused key must
    equal the reference zorder_key(rank_exprs, bits) bit for bit, and
    _morton_spread's OR over columns must reconstruct zorder_key exactly."""
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    # python-side identity: spread(a,..,0) | spread(b,..,1) == interleave
    for a in (0, 1, 5, 170, 255):
        for b in (0, 3, 128, 255):
            expect = 0
            for bit in range(8):
                expect |= ((a >> bit) & 1) << (2 * bit)
                expect |= ((b >> bit) & 1) << (2 * bit + 1)
            got = L._morton_spread(a, 8, 2, 0) | L._morton_spread(b, 8, 2, 1)
            assert got == expect, (a, b)

    # expression-side: fused tree == reference key on real data
    rows = [(float(i % 97), float((i * 7) % 101)) for i in range(500)] + [
        (None, 3.0), (4.0, None)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    bits, qs = 4, [float(j + 1) / 16 for j in range(15)]
    bnds = df.stat.approxQuantile(["x", "y"], qs, 0.001)
    ref = L.zorder_key(
        [L._rank_expr(F.col(c), sorted(b)) for c, b in zip(["x", "y"], bnds)], bits
    )
    fused = None
    for i, (c, b) in enumerate(zip(["x", "y"], bnds)):
        t = L._rank_expr(
            F.col(c), sorted(b),
            leaf=lambda r, i=i: L._morton_spread(r, bits, 2, i), dtype="long",
        )
        fused = t if fused is None else fused.bitwiseOR(t)
    assert (
        df.select((ref == fused).alias("eq")).filter(~F.col("eq")).count() == 0
    )


def test_zorder_scratch_column_collisions_raise(spark):
    """ADVICE r8: the quantile scratch names __zq_<i> are guarded like
    __z_key — a caller column with that name would duplicate in the casted
    projection and approxQuantile/_rank_expr could bind to the caller's
    values, silently corrupting the clustering."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.sources import layout as L

    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit(0.5).alias("__zq_1")
    )
    # __zq_1 is scratch for the SECOND clustering column: two cols collide
    with pytest.raises(ValueError, match="__zq_1"):
        L.zorder_frame(df, ["id", "v"], num_files=2)
    # one clustering column only uses __zq_0 — no collision, must work
    assert L.zorder_frame(df, ["id"], num_files=2).count() == 10
    with pytest.raises(ValueError, match="__z_key"):
        L.zorder_frame(df.withColumn("__z_key", F.lit(1)), ["id"], num_files=2)


def test_append_store_rejects_batch_layout(spark, tmp_path):
    """Appending __ingest partitions to a write_minhash_store layout would
    corrupt its partition tree far from the cause — rejected up front
    (self-review r8)."""
    import pytest

    from amazon_fresh_sql_data_engineering_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "a completely different document about parquet files")],
        "doc_id long, text string",
    )
    feats = D.minhash_features(docs, "doc_id", "text", 64, 3, 42)
    path = str(tmp_path / "batch_store")
    D.write_minhash_store(feats, path, num_prefixes=8)
    with pytest.raises(ValueError, match="batch-layout"):
        D.append_minhash_store(feats, path, 0)
    with pytest.raises(ValueError, match="append-layout"):
        D.minhash_store_probe(
            docs, path, "doc_id", "text", max_ingest_exclusive=1
        )


def test_compact_files_heals_torn_swap(spark, sf_dir, tmp_path):
    """compact_files replaces a plain directory with two renames through
    hidden siblings. A crash between them leaves the table only in its
    ``.compact-old-`` backup: the next compaction must restore it (not
    read a missing path), drop an orphaned ``.compact-tmp-`` write, and
    treat a backup next to a live table as obsolete."""
    import shutil

    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "t")
    region.repartition(4).write.parquet(path)
    old = str(tmp_path / ".compact-old-t")
    tmp = str(tmp_path / ".compact-tmp-t")
    # torn window: table renamed aside, replacement never landed
    os.rename(path, old)
    os.makedirs(tmp)
    assert sinks.compact_files(spark, path)[0] == 4
    assert spark.read.parquet(path).count() == 5
    assert sorted(os.listdir(tmp_path)) == ["t"]
    # table live: a leftover backup is obsolete and dropped
    shutil.copytree(path, old)
    sinks.compact_files(spark, path)
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert spark.read.parquet(path).count() == 5



def test_compact_partitions_rewrites_only_hot_leaves(spark, sf_dir, tmp_path):
    """Partition-subset OPTIMIZE (round-9): only leaf directories past the
    file-count threshold are rewritten; cold partitions stay BYTE-IDENTICAL
    (never even read), values and partition columns survive, multi-level
    layouts work, and the flat-table misuse raises."""
    import glob
    import os

    import pytest

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    path = str(tmp_path / "orders_part")
    # two-level partitioning; make ONE leaf hot (many small files) by
    # writing it with many input partitions, others cold
    hot = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    )
    cold = orders.join(hot, ["o_orderkey"], "left_anti")
    cold.repartition(2).write.partitionBy(
        "o_orderstatus", "o_orderpriority"
    ).parquet(path)
    hot.repartition(24).write.mode("append").partitionBy(
        "o_orderstatus", "o_orderpriority"
    ).parquet(path)

    def snap(leaf):
        return {
            os.path.basename(p): os.path.getsize(p)
            for p in glob.glob(os.path.join(path, leaf, "part-*"))
        }

    hot_leaf = "o_orderstatus=F/o_orderpriority=1-URGENT"
    cold_leaf = next(
        os.path.relpath(r, path)
        for r, _d, fs in os.walk(path)
        if any(f.startswith("part-") for f in fs)
        and os.path.relpath(r, path) != hot_leaf
    )
    assert len(snap(hot_leaf)) > 8
    cold_before = snap(cold_leaf)
    expect = {
        (r["o_orderkey"], r["o_orderstatus"], r["o_orderpriority"])
        for r in spark.read.parquet(path).collect()
    }

    res = sinks.compact_partitions(spark, path, min_files=8)
    assert res["compacted"] == [hot_leaf]
    assert res["skipped"] >= 1
    assert res["files_after"] < res["files_before"]
    assert len(snap(hot_leaf)) <= 8
    # cold leaf untouched: exact same file names and sizes
    assert snap(cold_leaf) == cold_before
    # full-table read: values and partition columns intact
    got = {
        (r["o_orderkey"], r["o_orderstatus"], r["o_orderpriority"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == expect

    # idempotent second pass: nothing left above the threshold
    res2 = sinks.compact_partitions(spark, path, min_files=8)
    assert res2["compacted"] == [] and res2["files_before"] == 0

    # a torn PRIOR leaf compaction heals before counting. The backup is
    # DOT-HIDDEN by design: a visible col=value.__old__x sibling would be
    # read by partition discovery as the bogus partition value
    # 'value.__old__x' — while torn, readers just miss the one leaf, and
    # they NEVER see a polluted value
    leaf_dir = os.path.join(path, hot_leaf)
    parent, name = os.path.split(leaf_dir)
    os.rename(leaf_dir, os.path.join(parent, f".compact-old-{name}"))
    torn_vals = {
        r["o_orderpriority"]
        for r in spark.read.parquet(path).select("o_orderpriority").distinct().collect()
    }
    assert all(".compact" not in v and "__old__" not in v for v in torn_vals)
    res3 = sinks.compact_partitions(spark, path, min_files=8)
    assert res3["compacted"] == []  # healed leaf is already compact
    got3 = {
        (r["o_orderkey"], r["o_orderstatus"], r["o_orderpriority"])
        for r in spark.read.parquet(path).collect()
    }
    assert got3 == expect

    # flat table: refused with pointer to compact_files
    flat = str(tmp_path / "flat")
    orders.limit(10).write.parquet(flat)
    with pytest.raises(ValueError, match="FLAT table"):
        sinks.compact_partitions(spark, flat)


def test_compact_partitions_handles_token_lookalike_partition_values(
    spark, tmp_path
):
    """ADVICE r9 (low): a legitimate hive partition VALUE containing
    '__old__' or '__tmp__' (e.g. col=a__old__b) is table data, not a swap
    sibling — it must be walked, compacted, and kept in results."""
    df = spark.createDataFrame(
        [(i, "a__old__b" if i % 2 else "c__tmp__d") for i in range(200)],
        "id int, grp string",
    )
    path = str(tmp_path / "tok")
    df.repartition(24).write.partitionBy("grp").parquet(path)
    import glob

    assert len(glob.glob(os.path.join(path, "grp=a__old__b", "part-*"))) > 8
    expect = {(r["id"], r["grp"]) for r in spark.read.parquet(path).collect()}
    res = sinks.compact_partitions(spark, path, min_files=8)
    assert sorted(res["compacted"]) == ["grp=a__old__b", "grp=c__tmp__d"]
    assert len(glob.glob(os.path.join(path, "grp=a__old__b", "part-*"))) <= 8
    got = {(r["id"], r["grp"]) for r in spark.read.parquet(path).collect()}
    assert got == expect


def test_publish_primitive_cross_use_fails_loudly(spark, tmp_path):
    """A sink directory holding parquet data but no pointer (a plain write,
    or a sink from the retired rename-swap publish) must raise, not read
    as None — a None reads as 'first-ever batch' to the streaming sinks,
    which would silently refold published state from empty. Pointed sinks
    and absent paths read normally."""
    import pytest

    from amazon_fresh_sql_data_engineering_spark.sources import versioned as V

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    plain = str(tmp_path / "plain_sink")
    df.write.parquet(plain)
    with pytest.raises(ValueError, match=f"no {V._POINTER} pointer"):
        V.read_or_none(spark, plain)
    ptr_sink = str(tmp_path / "ptr_sink")
    V.write_snapshot(df, ptr_sink, keep_last=1)
    assert V.read_or_none(spark, ptr_sink).count() == 1
    assert V.read_or_none(spark, str(tmp_path / "nope")) is None
    # a crash before the first flip leaves an unpointed snapshot, which is
    # not foreign data: heal prunes it and the sink reads as empty
    V.write_snapshot(df, str(tmp_path / "torn"))
    os.remove(str(tmp_path / "torn" / V._POINTER))
    assert V.heal(str(tmp_path / "torn")) is True
    assert V.read_or_none(spark, str(tmp_path / "torn")) is None


def test_pointer_read_rejects_partitioned_swap_sink(spark, tmp_path):
    """The unpointed-data check also catches a PARTITIONED plain directory
    (hive dirs at the root, no part-* files) — the layout the retired
    rename-swap sinks left behind."""
    import pytest

    from amazon_fresh_sql_data_engineering_spark.sources import versioned as V

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, g string")
    sink = str(tmp_path / "part_sink")
    df.write.partitionBy("g").parquet(sink)
    with pytest.raises(ValueError, match=f"no {V._POINTER} pointer"):
        V.read_or_none(spark, sink)


def test_pointer_read_rejects_underscore_prefixed_partition_swap_sink(
    spark, tmp_path
):
    """ADVICE r10 (low): Spark's InMemoryFileIndex admits underscore-
    prefixed 'name=value' partition dirs — the retired rename-swap
    partitioned MV sink's layout is exactly '__mv_bucket=N' — so the
    unpointed-data check must count them, not skip them under the
    hidden-prefix rule and silently return None."""
    import pytest

    from amazon_fresh_sql_data_engineering_spark.sources import versioned as V
    from amazon_fresh_sql_data_engineering_spark.streaming.mv import read_mv_state

    sink = str(tmp_path / "mv_bucket_sink")
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id int, g string, __mv_bucket int"
    )
    df.write.partitionBy("__mv_bucket").parquet(sink)
    # sanity: Spark itself discovers the underscore-prefixed partitions
    assert spark.read.parquet(sink).count() == 2
    with pytest.raises(ValueError, match=f"no {V._POINTER} pointer"):
        V.read_or_none(spark, sink)
    with pytest.raises(ValueError, match=f"no {V._POINTER} pointer"):
        read_mv_state(spark, sink)


def test_pointer_store_compaction_reader_grace(spark, sf_dir, tmp_path):
    """r11 self-review: heal prunes only ABOVE the pointer, so the
    reader-grace retention window (compact_minhash_store's
    keep_generations) survives the ingest loop's per-batch heals — a
    concurrent external probe holding the superseded generation finishes
    against immutable data instead of dying mid-plan. The next
    default-retention compaction (or an explicit vacuum) applies the
    tighter policy; vacuum also clears orphaned pointer tmp files."""
    from pyspark.sql import functions as F

    from amazon_fresh_sql_data_engineering_spark.operators import dedup as D
    from amazon_fresh_sql_data_engineering_spark.sources import versioned as V

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 20)
    )
    store = str(tmp_path / "store")
    D.bootstrap_minhash_store(spark, store, num_prefixes=8)
    feats = D.minhash_features(docs, "doc_id", "text", 64, 3, 42)
    D.append_minhash_store(feats, store, 0)
    root = f"{store}/store"
    old_feats_dir, _ = D._store_trees(store)
    old_gen = V.current_version(root)
    n_hist = spark.read.parquet(old_feats_dir).count()
    assert n_hist > 0

    # compact WITH reader grace: the superseded generation stays on disk
    D.compact_minhash_store(spark, store, 1, keep_generations=2)
    cur = V.current_version(root)
    assert cur == old_gen + 1
    assert V.list_versions(root) == [old_gen, cur]
    # a reader that resolved its paths before the flip still reads the
    # full immutable history
    assert spark.read.parquet(old_feats_dir).count() == n_hist
    # the loop's per-batch heal must NOT undo the retention
    D.heal_minhash_store(store)
    assert V.list_versions(root) == [old_gen, cur]
    # but a torn (above-pointer) generation IS pruned by the same heal
    import os

    torn = f"{root}/data/v={cur + 1}"
    os.makedirs(torn)
    D.heal_minhash_store(store)
    assert not os.path.exists(torn)

    # default-retention compaction tightens to latest-only
    D.compact_minhash_store(spark, store, 1)
    newest = V.current_version(root)
    assert V.list_versions(root) == [newest]
    # vacuum clears an orphaned pointer tmp (torn _publish litter)
    litter = f"{root}/{V._POINTER}.tmp.999"
    with open(litter, "w") as fh:
        fh.write("{}")
    V.vacuum(root, keep_last=1)
    assert not os.path.exists(litter)
    # store still probes correctly after all of it
    wave = docs.withColumn("doc_id", F.col("doc_id") + 700_000)
    pairs = D.minhash_store_probe(
        wave, store, "doc_id", "text", threshold=0.6, max_ingest_exclusive=1
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    ids = {r.doc_id for r in docs.collect()}
    assert all((i, i + 700_000) in got for i in ids)
