"""Tests for §2.3 DML-as-rewrite operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_fresh_sql_data_engineering_spark import fence
from amazon_fresh_sql_data_engineering_spark.operators import dml


def _people(spark):
    return spark.createDataFrame(
        [(1, "ann", 17), (2, "bob", 30), (3, "cat", None), (4, "ann", 25)],
        "id int, name string, age int",
    )


def test_update_where(spark):
    # repair UPDATE analog: age NULL or <= 18 -> 19 (ref A:51-53)
    out = dml.update_where(
        _people(spark),
        F.col("age").isNull() | (F.col("age") <= 18),
        {"age": F.lit(19)},
    )
    assert {r.id: r.age for r in out.collect()} == {1: 19, 2: 30, 3: 19, 4: 25}


def test_update_from_mapping(spark):
    mapping = spark.createDataFrame([(1, "ANN")], "id int, newname string")
    out = dml.update_from_mapping(
        _people(spark), mapping, on="id", assignments={"name": F.col("newname")}
    )
    got = {r.id: r.name for r in out.collect()}
    assert got == {1: "ANN", 2: "bob", 3: "cat", 4: "ann"}
    assert set(out.columns) == {"id", "name", "age"}


def test_delete_where_null_safe(spark):
    # NULL predicate rows must survive (SQL DELETE only removes TRUE rows)
    out = dml.delete_where(_people(spark), F.col("age") < 20)
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]


def test_dedup_keep_first(spark):
    out = dml.dedup_keep_first(_people(spark), ["name"], [F.col("id")])
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def test_upsert_ignore_idempotent(spark):
    existing = _people(spark)
    batch = spark.createDataFrame(
        [(2, "BOB2", 99), (5, "eve", 40), (5, "eve-dup", 41)],
        "id int, name string, age int",
    )
    once = dml.upsert_ignore(existing, batch, "id")
    # conflict id=2 ignored (first-writer-wins), id=5 in-batch dup collapsed
    assert once.count() == 5
    assert once.filter(F.col("id") == 2).collect()[0].name == "bob"
    twice = dml.upsert_ignore(once, batch, "id")
    assert twice.count() == 5


def test_cascade_delete(spark):
    parent = spark.createDataFrame([(1, "x"), (2, "y")], "pid int, v string")
    child = spark.createDataFrame([(10, 1), (11, 2), (12, None)], "cid int, pid int")
    np, nc = dml.cascade_delete(parent, child, F.col("v") == "x", "pid", "pid")
    assert [r.pid for r in np.collect()] == [2]
    assert sorted(r.cid for r in nc.collect()) == [11, 12]


def test_set_null_on_delete(spark):
    parent = spark.createDataFrame([(1, "x"), (2, "y")], "pid int, v string")
    child = spark.createDataFrame([(10, 1), (11, 2)], "cid int, pid int")
    np, nc = dml.set_null_on_delete(parent, child, F.col("v") == "x", "pid", "pid")
    got = {r.cid: r.pid for r in nc.collect()}
    assert got == {10: None, 11: 2}


def test_scd2_apply_semantics(spark):
    import datetime

    from amazon_fresh_sql_data_engineering_spark.operators.dml import scd2_apply

    d = datetime.date
    current = spark.createDataFrame(
        [
            # closed history row: must pass through untouched
            ("k1", "old", d(2020, 1, 1), d(2022, 1, 1), False),
            ("k1", "a", d(2022, 1, 1), None, True),   # will change -> close
            ("k2", "b", d(2022, 1, 1), None, True),   # unchanged
            ("k3", None, d(2022, 1, 1), None, True),  # NULL -> value change
            ("k4", "d", d(2022, 1, 1), None, True),   # not in updates
        ],
        "k string, v string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [("k1", "a2"), ("k2", "b"), ("k3", "c"), ("k5", "new")],
        "k string, v string",
    )
    eff = d(2024, 6, 1)
    out = scd2_apply(current, updates, "k", ["v"], eff).collect()
    rows = {(r.k, r.v, r.is_current): (r.valid_from, r.valid_to) for r in out}
    assert len(out) == 8
    assert rows[("k1", "old", False)] == (d(2020, 1, 1), d(2022, 1, 1))  # history kept
    assert rows[("k1", "a", False)] == (d(2022, 1, 1), eff)              # closed
    assert rows[("k1", "a2", True)] == (eff, None)                       # new version
    assert rows[("k2", "b", True)] == (d(2022, 1, 1), None)              # unchanged
    assert rows[("k3", None, False)][1] == eff                           # NULL-safe change
    assert rows[("k3", "c", True)] == (eff, None)
    assert rows[("k4", "d", True)] == (d(2022, 1, 1), None)              # untouched key
    assert rows[("k5", "new", True)] == (eff, None)                      # brand new


def _mv_rows(df):
    return {
        tuple(r[k] for k in ("g", "s")): (r["__mv_cnt"], float(r["rev"]))
        for r in df.collect()
    }


def test_mv_apply_delta_equals_rebuild(spark):
    """Delta-apply must be indistinguishable from a full rebuild of the
    post-change table, including groups created by the delta and groups it
    fully empties (dropped, never tombstoned)."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    base = spark.createDataFrame(
        [(1, "a", "x", 10.0), (2, "a", "x", 20.0), (3, "b", "y", 5.0), (4, "c", "y", 7.0)],
        "id int, g string, s string, rev double",
    )
    keys, sums = ["g", "s"], {"rev": "rev"}
    mv0 = mv.mv_build(base, keys, sums)
    delta = spark.createDataFrame(
        [
            (5, "d", "z", 100.0, 1),   # brand-new group
            (6, "a", "x", 30.0, 1),    # grow an existing group
            (4, "c", "y", 7.0, -1),    # empty group c/y entirely
            (3, "b", "y", 5.0, -1),    # shrink b/y to zero rows too
        ],
        "id int, g string, s string, rev double, __op int",
    )
    got = mv.mv_apply_delta(mv0, delta, keys, sums)
    eff = base.filter(~F.col("id").isin(3, 4)).unionByName(
        delta.filter(F.col("__op") == 1).drop("__op")
    )
    exp = mv.mv_build(eff, keys, sums)
    assert _mv_rows(got) == _mv_rows(exp)
    assert ("c", "y") not in _mv_rows(got) and ("b", "y") not in _mv_rows(got)


def test_mv_inverse_delta_round_trips(spark):
    """Applying a delta then its signed inverse returns the original state —
    the algebraic property that makes replay/undo safe."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    base = spark.range(200).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 3).cast("string").alias("s"),
        (F.col("id") * 1.5).alias("rev"),
    )
    keys, sums = ["g", "s"], {"rev": "rev"}
    mv0 = mv.mv_build(base, keys, sums)
    delta = base.filter(F.col("id") % 5 == 0).withColumn("__op", F.lit(-1))
    inv = delta.withColumn("__op", -F.col("__op"))
    mv1 = mv.mv_apply_delta(mv0, delta, keys, sums)
    mv2 = mv.mv_apply_delta(mv1, inv, keys, sums)
    assert _mv_rows(mv2) == _mv_rows(mv0)
    assert _mv_rows(mv1) != _mv_rows(mv0)


def test_mv_op_column_collision_raises(spark):
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    import pytest

    base = spark.createDataFrame([(1, "a", 1.0)], "id int, g string, rev double")
    with pytest.raises(ValueError, match="collides"):
        mv.mv_apply_delta(
            mv.mv_build(base, ["g"], {"rev": "rev"}),
            base.withColumn("__op", F.lit(1)),
            ["g"],
            {"rev": "rev"},
            op_col="g",
        )


def _mvx_rows(df):
    return {
        tuple(r[k] for k in ("g", "s")): (r["__mv_cnt"], float(r["lo"]), float(r["hi"]))
        for r in df.collect()
    }


def test_mv_minmax_delta_equals_rebuild(spark):
    """MIN/MAX delta-apply (targeted recompute of affected groups) must be
    indistinguishable from a full rebuild, with BOTH arms exercised: a
    delete that removes a group extreme (affected -> recompute) and
    insert-only / non-threatening-delete groups (algebraic)."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    base = spark.createDataFrame(
        [
            (1, "a", "x", 10.0),
            (2, "a", "x", 20.0),   # a/x max, deleted -> affected
            (3, "b", "y", 5.0),
            (4, "b", "y", 9.0),    # delete non-extreme 5.0? no: 5.0 IS min
            (5, "c", "y", 7.0),
            (6, "c", "y", 3.0),    # c/y untouched by deletes -> algebraic
        ],
        "id int, g string, s string, rev double",
    )
    keys, mins, maxs = ["g", "s"], {"lo": "rev"}, {"hi": "rev"}
    mv0 = mv.mv_build_minmax(base, keys, mins, maxs)
    delta = spark.createDataFrame(
        [
            (2, "a", "x", 20.0, -1),   # removes a/x's max -> recompute arm
            (7, "c", "y", 1.0, 1),     # insert below c/y's min -> algebraic
            (8, "d", "z", 50.0, 1),    # brand-new group -> algebraic
            (3, "b", "y", 5.0, -1),    # removes b/y's min -> recompute arm
            (9, "b", "y", 4.0, 1),     # plus an insert into the same group
        ],
        "id int, g string, s string, rev double, __op int",
    )
    eff = base.filter(~F.col("id").isin(2, 3)).unionByName(
        delta.filter(F.col("__op") == 1).drop("__op")
    )
    got = mv.mv_apply_delta_minmax(mv0, delta, eff, keys, mins, maxs)
    exp = mv.mv_build_minmax(eff, keys, mins, maxs)
    assert _mvx_rows(got) == _mvx_rows(exp)
    # arm evidence: a/x and b/y were recomputed (extreme removed), c/y and
    # d/z merged algebraically; values spot-checked
    rows = _mvx_rows(got)
    assert rows[("a", "x")] == (1, 10.0, 10.0)
    assert rows[("b", "y")] == (2, 4.0, 9.0)
    assert rows[("c", "y")] == (3, 1.0, 7.0)
    assert rows[("d", "z")] == (1, 50.0, 50.0)


def test_mv_minmax_group_emptied_and_semi_join_arm(spark):
    """A group whose rows are all deleted disappears; the > max_pruned_groups
    fallback (broadcast semi join instead of literal filter) returns the
    identical result — including for a NULL grouping key (the semi join
    must be null-safe, like the literal arm)."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    base = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        # group '0' becomes a NULL key: an affected NULL-key group must
        # survive the semi-join fallback arm
        F.when(F.col("id") % 10 != 0, (F.col("id") % 10).cast("string")).alias("g"),
        F.lit("s").alias("s"),
        (F.col("id") % 17 * 1.0).alias("rev"),
    )
    keys, mins, maxs = ["g", "s"], {"lo": "rev"}, {"hi": "rev"}
    mv0 = mv.mv_build_minmax(base, keys, mins, maxs)
    # delete every row of group 1 and each group's current min row — the
    # NULL-key group loses its min (affected, must SURVIVE with a
    # recomputed extreme), group 1 empties (must disappear)
    from pyspark.sql import Window

    doomed = base.filter(F.col("g").eqNullSafe(F.lit("1")))
    w = Window.partitionBy("g", "s")  # window partitions treat NULL as a group
    min_rows = (
        base.withColumn("__mn", F.min("rev").over(w))
        .filter(F.col("rev") == F.col("__mn"))
        .drop("__mn")
    )
    delta = (
        doomed.unionByName(min_rows).distinct().withColumn("__op", F.lit(-1))
    )
    eff = base.join(
        delta.select("id").distinct(), on="id", how="left_anti"
    )
    exp = mv.mv_build_minmax(eff, keys, mins, maxs)
    got_lit = mv.mv_apply_delta_minmax(mv0, delta, eff, keys, mins, maxs)
    got_semi = mv.mv_apply_delta_minmax(
        mv0, delta, eff, keys, mins, maxs, max_pruned_groups=2
    )
    assert _mvx_rows(got_lit) == _mvx_rows(exp)
    assert _mvx_rows(got_semi) == _mvx_rows(exp)
    assert ("1", "s") not in _mvx_rows(got_lit)
    assert (None, "s") in _mvx_rows(got_semi)  # null-key group survived


def test_mv_dim_delta_update_moves_groups(spark):
    """Dim-side JOIN-view maintenance: a dimension UPDATE (delete+insert
    pair) re-homes the matching facts between groups keyed on the dim
    attribute; folding mv_dim_delta's signed fact delta must equal a
    rebuild of the post-change join. Both pruning arms return the same."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 11.0), (4, 30, 2.0)],
        "id int, ck int, rev double",
    )
    dim = spark.createDataFrame(
        [(10, "red"), (20, "blue"), (30, "red")], "ck int, color string"
    )
    keys, sums = ["color"], {"rev": "rev"}
    mv0 = mv.mv_build(fact.join(dim, "ck"), keys, sums)
    # UPDATE dim 10: red -> blue, as the CDC delete+insert pair
    dim_delta = spark.createDataFrame(
        [(10, "red", -1), (10, "blue", 1)], "ck int, color string, __op int"
    )
    folded = mv.mv_apply_delta(
        mv0, mv.mv_dim_delta(fact, dim_delta, on="ck"), keys, sums
    )
    dim_after = spark.createDataFrame(
        [(10, "blue"), (20, "blue"), (30, "red")], "ck int, color string"
    )
    exp = mv.mv_build(fact.join(dim_after, "ck"), keys, sums)
    rows = lambda df: {  # noqa: E731
        r["color"]: (r["__mv_cnt"], float(r["rev"])) for r in df.collect()
    }
    assert rows(folded) == rows(exp)
    assert rows(folded)["blue"] == (3, 23.0) and rows(folded)["red"] == (1, 2.0)
    # semi-join fallback arm (max_pruned_keys below the change-set size)
    folded2 = mv.mv_apply_delta(
        mv0,
        mv.mv_dim_delta(fact, dim_delta, on="ck", max_pruned_keys=0),
        keys,
        sums,
    )
    assert rows(folded2) == rows(exp)


def test_mv_dim_delta_requires_op_column(spark):
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    import pytest

    fact = spark.createDataFrame([(1, 10, 5.0)], "id int, ck int, rev double")
    bad = spark.createDataFrame([(10, "x")], "ck int, color string")
    with pytest.raises(ValueError, match="op column"):
        mv.mv_dim_delta(fact, bad, on="ck")


def test_mv_dim_delta_rejects_shared_nonjoin_columns(spark):
    """Shared non-join names (audit/ts columns are common) would make the
    final inner join emit ambiguous duplicates that only fail in the
    downstream groupBy — rejected up front with a nameable cause
    (ADVICE r7)."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv

    import pytest

    fact = spark.createDataFrame(
        [(1, 10, 5.0, "t0")], "id int, ck int, rev double, updated_at string"
    )
    dim_delta = spark.createDataFrame(
        [(10, "red", "t1", -1)], "ck int, color string, updated_at string, __op int"
    )
    with pytest.raises(ValueError, match="updated_at"):
        mv.mv_dim_delta(fact, dim_delta, on="ck")


def test_mv_minmax_pin_is_freed_by_its_scope(spark):
    """mv_apply_delta_minmax persists the |MV|+|delta| join frame through
    the fence; a maintenance loop releases it per batch with a scope
    (ADVICE r7 — same contract as the dedup incremental paths)."""
    from amazon_fresh_sql_data_engineering_spark.operators import mv
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 9.0), (3, "b", 2.0)], "id int, g string, v double"
    )
    mv0 = mv.mv_build_minmax(base, ["g"], {"mn": "v"}, {"mx": "v"})
    delta = spark.createDataFrame(
        [(2, "a", 9.0, -1)], "id int, g string, v double, __op int"
    )
    base_after = base.filter(F.col("id") != 2)
    with fence.scope():
        got = mv.mv_apply_delta_minmax(
            mv0, delta, base_after, ["g"], {"mn": "v"}, {"mx": "v"}
        )
        rows = {r["g"]: (r["__mv_cnt"], r["mn"], r["mx"]) for r in got.collect()}
        pins = [df for df, _ in fence._owner.get()]
        assert len(pins) == 1 and pins[0].storageLevel.useMemory
    assert rows == {"a": (1, 5.0, 5.0), "b": (1, 2.0, 2.0)}
    assert not pins[0].storageLevel.useMemory
