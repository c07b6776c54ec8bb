"""The cache fence: the package's only way to pin a DataFrame.

A PostgreSQL statement frees what it materialized when it ends; Spark has
no such boundary. So every pin goes through :func:`persist` /
:func:`checkpoint` and belongs to the current owner: a :func:`scope`
(freed on exit, exception included), a catalog query's :func:`generation`
(freed at the next top-level call of that query, or at once if the call
raises; a registered call inside another owner pins into it), or, with no
owner current, the process owner that :func:`release_all` drains.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

# each owner is a list of (frame, is_local_checkpoint)
_owner: contextvars.ContextVar[list | None] = contextvars.ContextVar("fence_owner", default=None)
_generations: dict[str, list] = {}
_process: list = []
_lock = threading.Lock()


def _pin(df: DataFrame, is_checkpoint: bool) -> DataFrame:
    owner = _owner.get()
    with _lock:
        (_process if owner is None else owner).append((df, is_checkpoint))
    return df


def persist(df: DataFrame, level=None) -> DataFrame:
    """``df.persist(level)``; Spark's default level when ``level`` is None."""
    return _pin(df.persist() if level is None else df.persist(level), False)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``."""
    return _pin(df.localCheckpoint(eager=eager), True)


def _free_all(pins: list) -> None:
    while pins:
        df, is_checkpoint = pins.pop()
        # DataFrame.unpersist goes through the SQL cache manager and never
        # touches a local checkpoint's blocks: reach the LogicalRDD's RDD
        try:
            if is_checkpoint:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            else:
                df.unpersist()
        except (Py4JError, PySparkException):  # a failed release leaks blocks, never results
            pass


def release(df: DataFrame) -> None:
    """Free one pinned frame now. Only for a frame nothing reads again."""
    with _lock:
        owners = (_owner.get() or [], _process, *_generations.values())
        hit = next(((o, i) for o in owners for i, (p, _) in enumerate(o) if p is df), None)
        pins = [] if hit is None else [hit[0].pop(hit[1])]
    _free_all(pins)


@contextlib.contextmanager
def scope():
    """Own every frame pinned inside the block; free them on exit."""
    pins: list = []
    token = _owner.set(pins)
    try:
        yield
    finally:
        _owner.reset(token)
        _free_all(pins)


@contextlib.contextmanager
def generation(name: str):
    """One call of catalog query ``name`` (see the module docstring)."""
    if _owner.get() is not None:
        yield
        return
    with _lock:
        previous = _generations.pop(name, [])
    _free_all(previous)
    pins: list = []
    token = _owner.set(pins)
    try:
        yield
    except BaseException:
        _free_all(pins)
        raise
    finally:
        _owner.reset(token)
    with _lock:
        _generations[name] = pins


def release_all() -> None:
    """Free every generation and every owner-less pin."""
    with _lock:
        pins = [p for g in _generations.values() for p in g] + _process
        _generations.clear()
        _process.clear()
    _free_all(pins)
