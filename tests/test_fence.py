"""The cache fence (fence.py): every owner frees exactly the frames it
pinned — a scope on exit, a query generation at the next top-level call
of the same query (or at once if the call raises), the process owner on
``release_all()`` — and no package module pins a frame any other way."""

from __future__ import annotations

import ast
import os
import threading

import pytest

import amazon_fresh_sql_data_engineering_spark as PKG
from amazon_fresh_sql_data_engineering_spark import fence
from amazon_fresh_sql_data_engineering_spark.registry import CATALOG, register


def _rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _rdd_id(checkpointed) -> int:
    return checkpointed._jdf.queryExecution().analyzed().rdd().id()


@pytest.fixture
def clean(spark):
    """Start from no persisted RDD and no cached plan at all."""
    fence.release_all()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist()
    yield
    fence.release_all()


@pytest.fixture
def make_query(clean):
    """Register throwaway catalog queries; remove them afterwards."""
    names = []

    def make(name, body):
        def query(spark, sf_dir=None):
            return body(spark)

        query.__name__ = name
        register(name)(query)
        names.append(name)
        return CATALOG[name].fn

    yield make
    for name in names:
        del CATALOG[name]


def test_scope_frees_on_normal_exit_and_on_exception(spark, clean):
    with fence.scope():
        p = fence.persist(spark.range(50))
        p.count()
        fence.checkpoint(spark.range(60))
        assert len(_rdds(spark)) == 2 and not _cache_empty(spark)
    assert _rdds(spark) == set() and _cache_empty(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with fence.scope():
            fence.persist(spark.range(70)).count()
            fence.checkpoint(spark.range(80))
            assert len(_rdds(spark)) == 2
            raise RuntimeError("boom")
    assert _rdds(spark) == set() and _cache_empty(spark)


def test_generation_lives_until_the_next_top_level_call(spark, make_query):
    fail = []

    def body(s):
        df = fence.checkpoint(s.range(10))
        if fail:
            raise RuntimeError("query failed")
        return df

    q = make_query("t_fence_gen", body)
    first = q(spark)
    assert _rdds(spark) == {_rdd_id(first)}
    second = q(spark)
    # the first call's generation went at the start of the second call;
    # the second call's result is still readable
    assert _rdds(spark) == {_rdd_id(second)} and second.count() == 10
    fail.append(True)
    with pytest.raises(RuntimeError, match="query failed"):
        q(spark)
    # the raising call freed its own pin at once, and the call freed the
    # previous generation on entry
    assert _rdds(spark) == set()


def test_nested_registered_call_joins_the_outer_generation(spark, make_query):
    inner = make_query("t_fence_inner", lambda s: fence.checkpoint(s.range(5)))
    outer = make_query(
        "t_fence_outer", lambda s: inner(s).unionByName(fence.checkpoint(s.range(6)))
    )
    assert outer(spark).count() == 11
    assert len(_rdds(spark)) == 2
    assert "t_fence_inner" not in fence._generations
    assert len(fence._generations["t_fence_outer"]) == 2
    outer(spark)  # frees both pins of the first call, pins two new ones
    assert len(_rdds(spark)) == 2


def test_released_checkpoint_leaves_the_persistent_rdds(spark, clean):
    c = fence.checkpoint(spark.range(30))
    p = fence.persist(spark.range(40))
    p.count()
    assert _rdd_id(c) in _rdds(spark) and not _cache_empty(spark)
    fence.release(c)
    assert _rdd_id(c) not in _rdds(spark)
    fence.release(p)
    assert _rdds(spark) == set() and _cache_empty(spark)
    assert fence._process == []


def test_ownerless_pins_are_drained_by_release_all(spark, clean):
    """A pin made outside any owner, including one made on another thread
    while this thread is inside a scope (the foreachBatch shape), goes to
    the process owner: the scope does not free it, release_all() does."""
    fence.persist(spark.range(20)).count()
    with fence.scope():
        t = threading.Thread(target=lambda: fence.checkpoint(spark.range(21)))
        t.start()
        t.join()
    assert len(_rdds(spark)) == 2 and len(fence._process) == 2
    fence.release_all()
    assert _rdds(spark) == set() and _cache_empty(spark)


class _Frame:
    """Stands in for a DataFrame: counts persist and unpersist calls."""

    def __init__(self):
        self.persists = self.unpersists = 0

    def persist(self, *level):
        self.persists += 1
        return self

    def unpersist(self):
        self.unpersists += 1


def test_concurrent_pins_are_each_freed_once(make_query):
    """More threads than cores pin owner-less frames and run their own
    generations at once; every frame is freed exactly once, so no pin is
    lost from a shared owner."""
    import sys

    n_threads, n_pins = 4 * (os.cpu_count() or 4), 200
    frames = [[_Frame() for _ in range(n_pins)] for _ in range(n_threads)]
    queries = [
        make_query(f"t_fence_stress_{t}", lambda s, fs=fs: [fence.persist(f) for f in fs[1::2]])
        for t, fs in enumerate(frames)
    ]

    def work(t):
        for f in frames[t][::2]:
            fence.persist(f)
        queries[t](None)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    fence.release_all()
    counts = {(f.persists, f.unpersists) for fs in frames for f in fs}
    assert counts == {(1, 1)}
    assert fence._process == [] and fence._generations == {}


_PIN_METHODS = {"persist", "localCheckpoint", "cache", "checkpoint"}


def _pin_calls(source: str) -> list[int]:
    """Lines of ``<frame>.persist/localCheckpoint/cache/checkpoint(...)``
    calls whose receiver is not the ``fence`` module."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        recv = node.func.value
        if node.func.attr in _PIN_METHODS and not (
            isinstance(recv, ast.Name) and recv.id == "fence"
        ):
            hits.append(node.lineno)
    return hits


def test_lint_flags_direct_pins():
    src = "a = df.persist()\nb = x.y.localCheckpoint(eager=True)\nc = fence.persist(d)\n"
    assert _pin_calls(src) == [1, 2]


def test_no_package_module_pins_outside_the_fence():
    root = os.path.dirname(PKG.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(root, "fence.py"):
                continue
            src = open(path, encoding="utf-8").read()
            hits += [f"{os.path.relpath(path, root)}:{n}" for n in _pin_calls(src)]
    assert hits == []
