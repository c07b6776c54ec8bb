"""The package's one Arrow-batched UDF declaration.

Every scalar pandas UDF in the package is declared with :func:`arrow_udf`,
which is ``pandas_udf(returnType)`` marked nondeterministic. The mark is for
Catalyst only — every kernel here is a pure, seeded function of its input
row — and it is what makes each UDF run once per row:

- Catalyst copies a deterministic UDF's inferred or pushed predicates
  (``isnotnull(udf(x))``, ``size(udf(x)) > 0``) below a ``Project``, a
  ``repartition`` or into each ``Union`` branch, and every copy is one more
  ``ArrowEvalPython`` pass over the same rows;
- a nondeterministic expression is never duplicated or pushed, so the one
  projection that names the UDF is the one that evaluates it.

``tests/test_extensions.py`` keeps ``pandas_udf`` and ``asNondeterministic``
inside this module (AST lint) and counts each UDF's Python rows against its
input rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType


def arrow_udf(returnType: DataType | str) -> Callable:
    """Decorator: a scalar pandas UDF (Series -> Series, or -> DataFrame for
    a struct ``returnType``) that Catalyst evaluates once per input row."""

    def declare(fn: Callable) -> Callable:
        return pandas_udf(returnType)(fn).asNondeterministic()

    return declare
