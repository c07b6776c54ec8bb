"""Invariant tests for the graph / IR / time-series additions
(op_pagerank, dedup_semantic, op_bm25_search, op_time_weighted_avg,
events_sliding_distinct) — properties the value-parity sweep can't state."""

from __future__ import annotations

import pyspark.sql.functions as F

from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG


def test_pagerank_mass_and_determinism(spark, sf_dir):
    q = CATALOG["op_pagerank"].fn
    rows = {r["node"]: r["rank"] for r in q(spark, sf_dir).collect()}
    total = sum(rows.values())
    # leaky formulation: mass can only be lost to dangling nodes, never made
    assert 0.5 < total <= 1.0 + 1e-6
    assert all(r > 0 for r in rows.values())
    again = {r["node"]: r["rank"] for r in q(spark, sf_dir).collect()}
    assert rows == again


def test_semantic_dedup_drops_every_synthetic_copy(spark, sf_dir):
    df = CATALOG["dedup_semantic"].fn(spark, sf_dir)
    copies = df.filter(F.col("vec_id") >= 1000000)
    assert copies.count() > 0
    # each copy's original has a smaller id and the identical vector, so it
    # lands in the same cluster and kills the copy at cosine 1.0
    assert copies.filter(F.col("keep")).count() == 0
    originals_kept = df.filter(
        (F.col("vec_id") < 1000000) & F.col("keep")
    ).count()
    assert originals_kept > 0


def test_bm25_hits_contain_a_query_term_and_scores_descend(spark, sf_dir):
    hits = CATALOG["op_bm25_search"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = hits.join(docs, "doc_id")
    no_term = joined.filter(
        ~F.col("text").rlike(r"\b(spark|join|window)\b")
    ).count()
    assert no_term == 0
    scores = [r["bm25"] for r in hits.collect()]
    assert scores == sorted(scores, reverse=True)
    assert len(scores) == 20


def test_time_weighted_avg_bounded_by_min_max(spark, sf_dir):
    from amazon_fresh_sql_data_engineering_spark.sources.loaders import load_table

    twa = CATALOG["op_time_weighted_avg"].fn(spark, sf_dir)
    bounds = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    # a duration-weighted mean is a convex combination of observed values
    bad = twa.join(bounds, "user_id").filter(
        (F.col("twa_value") < F.col("lo") - 1e-3)
        | (F.col("twa_value") > F.col("hi") + 1e-3)
    )
    assert bad.count() == 0


def test_sliding_distinct_dominates_single_hour(spark, sf_dir):
    from amazon_fresh_sql_data_engineering_spark.sources.loaders import load_table

    sliding = CATALOG["events_sliding_distinct"].fn(spark, sf_dir)
    single = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(F.count_distinct("user_id").alias("one_hour"))
    )
    joined = sliding.join(single, ["event_type", "hour"], "inner")
    # the 24h trailing window can never see FEWER users than its last hour
    assert joined.filter(F.col("distinct_users") < F.col("one_hour")).count() == 0
    # and the window must actually widen coverage somewhere
    assert joined.filter(F.col("distinct_users") > F.col("one_hour")).count() > 0


def test_sliding_distinct_keeps_null_user_only_hours(spark, sf_dir, tmp_path):
    """An observed (event_type, hour) covered only by NULL-user events is a
    distinct_users = 0 row, as the oracle's count(DISTINCT) returns it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare, duckdb_connect

    for f in os.listdir(sf_dir):
        if f != "events.parquet":
            os.symlink(os.path.join(sf_dir, f), tmp_path / f)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    extra = ev.slice(0, 1).to_pylist()[0] | {
        "event_id": max(ev.column("event_id").to_pylist()) + 1,
        "user_id": None,
        "event_type": "null_user_only",
    }
    pq.write_table(
        pa.concat_tables([ev, pa.Table.from_pylist([extra], schema=ev.schema)]),
        tmp_path / "events.parquet",
    )
    spec = CATALOG["events_sliding_distinct"]
    df = spec.fn(spark, str(tmp_path))
    fresh = df.filter(F.col("event_type") == "null_user_only").collect()
    assert [r["distinct_users"] for r in fresh] == [0]
    con = duckdb_connect(str(tmp_path))
    try:
        assert not compare(df, con, spec.oracle)
    finally:
        con.close()


def test_triangle_count_known_graphs(spark):
    from amazon_fresh_sql_data_engineering_spark.operators.graph import (
        triangle_count,
    )

    # K4: every node sits in C(3,2)=3 triangles; 4 triangles total.
    k4 = [(a, b) for a in "ABCD" for b in "ABCD" if a < b]
    out = {
        r["node"]: r["triangles"]
        for r in triangle_count(
            spark.createDataFrame(k4, ["src", "dst"])
        ).collect()
    }
    assert out == {"A": 3, "B": 3, "C": 3, "D": 3}

    # Star graph (hub + 5 leaves): wedges galore, zero triangles — the
    # degree orientation points every edge AT the hub, so the hub has no
    # out-wedges and the enumeration stays empty, not quadratic.
    star = [("HUB", f"L{i}") for i in range(5)]
    assert triangle_count(spark.createDataFrame(star, ["src", "dst"])).count() == 0

    # Direction/duplicate/self-loop insensitivity: triangle A-B-C plus
    # noise edges reversed, duplicated, and looped.
    messy = [
        ("A", "B"), ("B", "A"), ("B", "C"), ("C", "A"),
        ("A", "A"), ("C", "A"), ("C", "D"),
    ]
    out = {
        r["node"]: r["triangles"]
        for r in triangle_count(
            spark.createDataFrame(messy, ["src", "dst"])
        ).collect()
    }
    assert out == {"A": 1, "B": 1, "C": 1}


def test_triangle_count_catalog_query_nonempty(spark, sf_dir):
    df = CATALOG["op_triangle_count"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["triangles"] >= 1 for r in rows)


def test_interpolate_gaps_spine_and_bounds(spark, sf_dir):
    """Spine is dense per type (consecutive hours, observed endpoints);
    interpolated values are bounded by the bracketing observed counts and
    observed rows pass through unchanged."""
    df = CATALOG["op_interpolate_gaps"].fn(spark, sf_dir).collect()
    by_type = {}
    for r in df:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type) == 5
    total_gaps = 0
    for rows in by_type.values():
        rows.sort(key=lambda r: r["hour"])
        # dense hourly spine
        hours = [r["hour"] for r in rows]
        assert all(
            (b - a).total_seconds() == 3600 for a, b in zip(hours, hours[1:])
        )
        # endpoints observed
        assert not rows[0]["was_gap"] and not rows[-1]["was_gap"]
        # every value positive; gap values bounded by neighbors' envelope
        obs = [r["n_filled"] for r in rows if not r["was_gap"]]
        lo, hi = min(obs), max(obs)
        for r in rows:
            assert r["n_filled"] > 0
            if r["was_gap"]:
                total_gaps += 1
                assert lo <= r["n_filled"] <= hi
    assert total_gaps > 0
