"""Vector expression kit for embedding-similarity operators.

Two tiers:

- **Oracle-parity tier** (``dot``/``norm``/``cosine``): native Column
  expressions via ``F.zip_with`` + ``F.aggregate``. The left-to-right
  accumulation order is deterministic — the same order DuckDB's
  ``list_dot_product`` uses, so cosines are bit-identical to the oracle's.
  Spark evaluates higher-order-function lambdas *interpreted* though, so
  this tier is for oracle-checked exact queries, not hot loops.

- **Throughput tier** (``matrix_dots_udf``/``matrix_cosine_top_udf``/
  ``cosine_pairs``): Arrow-batched pandas UDFs that stack each batch into
  one numpy matrix and do a single BLAS matmul — 10-100x the HOF tier for
  per-row x constant-matrix scoring (LSH planes, IVF centroids) and
  candidate reranks, where last-ulp summation order doesn't matter
  (approximate paths are validated by recall, not value hashes).

For 100 TB-scale ANN, exact cosine is the *rerank* step; candidate
generation is LSH bucketing (operators/similarity.py) so the crossJoin
never materializes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from .arrow import arrow_udf


def to_double(v: Column | str) -> Column:
    col = F.col(v) if isinstance(v, str) else v
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL)."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d)


def _stack(vs: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in vs])


def matrix_dots_udf(matrix):
    """Pandas-UDF factory: vec column -> ``array<double>`` of v . row for
    each row of the constant ``matrix``. One BLAS matmul per Arrow batch;
    the matrix rides to executors inside the serialized UDF (broadcast-
    equivalent — same shipping story as a centroid/plane table at scale).
    """
    m_t = np.asarray(matrix, dtype=np.float64).T

    @arrow_udf(ArrayType(DoubleType()))
    def _dots(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        return pd.Series(list(_stack(vs) @ m_t))

    return _dots


def matrix_cosine_top_udf(matrix, labels, n_take: int):
    """Pandas-UDF factory: vec column -> ``array<int>`` of the ``labels``
    of the ``n_take`` matrix rows most cosine-similar to the vector
    (descending; deterministic stable tiebreak on matrix row order).
    The IVF assign/probe kernel: batch matmul against unit-normalized
    centroid rows, then a per-row argsort of ``n_clusters`` scores."""
    m = np.asarray(matrix, dtype=np.float64)
    m_unit_t = (m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)).T
    lab = np.asarray(labels, dtype=np.int64)

    @arrow_udf(ArrayType(IntegerType()))
    def _top(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        scores = _stack(vs) @ m_unit_t  # row norms don't affect ranking
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :n_take]
        return pd.Series(list(lab[idx]))

    return _top


@arrow_udf(DoubleType())
def cosine_pairs(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine of two vector columns, numpy-batched (the rerank /
    verify kernel for approximate paths). NULL on zero vectors, matching
    :func:`cosine` — never NaN (Spark orders NaN *above* every number, so
    a NaN leaking into a ``>= threshold`` filter would pass it)."""
    if not len(a):
        return pd.Series([], dtype="float64")
    av = _stack(a)
    bv = _stack(b)
    num = np.einsum("ij,ij->i", av, bv)
    den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
    return pd.Series([float(n) / float(d) if d > 0 else None for n, d in zip(num, den)])
