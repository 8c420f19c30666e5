"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- Expression form (``dot``/``norm``/``cosine``): ``zip_with`` +
  ``aggregate`` higher-order functions. JVM-side but *interpreted* per
  element (higher-order functions do not participate in whole-stage
  codegen), sequential left-to-right accumulation — bit-identical to the
  DuckDB oracle's ``list_dot_product`` on the same doubles. This is the
  oracle-shared definition.
- ``cosine_pudf``: Arrow-batched pandas UDF — the whole batch becomes one
  numpy matrix and the cosine is a vectorized multiply/sum (BLAS-backed).
  The fast path for hot scoring loops; tests pin equality (to 6 dp)
  against the expression form.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def as_double(vec: Column | str) -> Column:
    return F.col(vec).cast("array<double>") if isinstance(vec, str) else vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: zero-norm input → NULL (matching DuckDB's x/0 and the
    # BLAS UDF) instead of ANSI DIVIDE_BY_ZERO
    return F.try_divide(dot(a, b), norm(a) * norm(b))


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
