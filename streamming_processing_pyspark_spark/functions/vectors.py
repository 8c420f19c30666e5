"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- Left-fold form: ``dot``/``norm``/``cosine`` build ``zip_with`` +
  ``aggregate`` higher-order functions. JVM-side but *interpreted* per
  element (higher-order functions do not participate in whole-stage
  codegen), sequential left-to-right accumulation. The same fold is
  owned here in its two other engines: :func:`fold_dot` in Python (the
  driver-side greedy picks and query hashes) and :func:`dot_duck` in
  DuckDB SQL (the oracles' ``list_reduce``), so all three give
  bit-identical doubles. This is the oracle-shared definition. A
  zero-norm vector has no cosine: :func:`cosine` is NULL for it, and
  the exact rankers never rank, pick or assign it.
- ``cosine_pudf``: Arrow-batched pandas UDF — the whole batch becomes one
  numpy matrix and the cosine is a vectorized multiply/sum (BLAS-backed).
  The fast path for hot scoring loops; tests pin equality (to 6 dp)
  against the expression form.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def as_double(vec: Column | str) -> Column:
    return F.col(vec).cast("array<double>") if isinstance(vec, str) else vec.cast("array<double>")


def fold_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Python twin of :func:`dot`: the same left fold over the dims."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def dot_duck(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` over two ``DOUBLE[]`` SQL expressions."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, b_norm: Column | None = None) -> Column:
    """``dot(a, b) / (|a|·|b|)``; ``b_norm`` passes a precomputed ``|b|``
    (a literal query vector's). try_divide: zero-norm input → NULL
    (matching DuckDB's x/0 and the BLAS UDF) instead of ANSI
    DIVIDE_BY_ZERO."""
    nb = norm(b) if b_norm is None else b_norm
    return F.try_divide(dot(a, b), norm(a) * nb)


# DataType object, not the DDL string "double": the string form parses via
# the active SparkContext, which breaks plain module import.
@F.pandas_udf(DoubleType())
def cosine_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine: one numpy matmul per Arrow batch instead of
    interpreted per-element expression eval. Rounding stays with callers so
    the signature matches :func:`cosine`. Zero-norm vectors yield NULL —
    matching the expression form's non-ANSI x/0 → NULL — not NaN (NaN
    sorts ABOVE every value in Spark's descending order and would win
    top-k)."""
    import numpy as np

    av = np.array(a.tolist(), dtype="float64")
    bv = np.array(b.tolist(), dtype="float64")
    num = (av * bv).sum(axis=1)
    den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
    ok = den != 0
    out = np.divide(num, den, out=np.full_like(num, np.nan), where=ok)
    # nullable Float64: NaN slots cross Arrow as NULL, not NaN
    return pd.Series(pd.array(out, dtype="Float64"))
