"""Geofence classification — point-in-polygon, Spark-first.

The reference classifies taxi drop-off points against two hard-coded
quadrilaterals (Goldman Sachs / Citigroup HQs) with a row-at-a-time Python
UDF that rebuilds a ``shapely.Polygon`` per row (reference ``Task3.py:57-73``,
``Task4.py:67-99``) — the single biggest de-optimization in the reference
(SURVEY.md §4). This module provides two scale-friendly implementations:

1. :func:`point_in_polygon_sql` — a pure-SQL even-odd ray-cast expression,
   generated from the polygon's vertices. Stays entirely inside Catalyst /
   whole-stage codegen (no Python worker round-trip), and is the exact same
   text DuckDB can evaluate, so engine and oracle share one definition.
2. :func:`classify_points_pandas_udf` — an Arrow-vectorized numpy ray-cast
   ``pandas_udf`` for the many-polygon case (polygons broadcast once, never
   rebuilt per row).

Semantics note: the reference's Goldman quad is self-intersecting ("bowtie",
reference ``Task3.py:45``); shapely's ``contains`` on an invalid polygon is
undefined-ish. This engine defines even-odd ray-cast semantics for all
polygons, valid or not — a documented, deterministic divergence
(SURVEY.md §5.3 decision: implement declared semantics, not quirks).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

Polygon = Sequence[Sequence[float]]  # [[lon, lat], ...]

# Reference geofences (reference Task3.py:45-46, Task4.py:55-56).
GOLDMAN: Polygon = [
    [-74.0141012, 40.7152191],
    [-74.013777, 40.7152275],
    [-74.0141027, 40.7138745],
    [-74.0144185, 40.7140753],
]
CITIGROUP: Polygon = [
    [-74.011869, 40.7217236],
    [-74.009867, 40.721493],
    [-74.010140, 40.720053],
    [-74.012083, 40.720267],
]

#: Classification precedence, reference Task3.py:64-69: goldman, citigroup, none.
HEADQUARTERS: dict[str, Polygon] = {"goldman": GOLDMAN, "citigroup": CITIGROUP}


def point_in_polygon_sql(polygon: Polygon, x_expr: str, y_expr: str) -> str:
    """Even-odd ray-cast point-in-polygon as a portable SQL boolean.

    Emits one crossing test per edge; XOR of the crossings = inside. The
    expression uses only arithmetic + comparisons so it runs identically in
    Spark SQL (codegen'd, pushdown-friendly) and DuckDB (the oracle).

    Edge test (half-open in y to handle vertices hit exactly):
    ``((y1 > y) != (y2 > y)) AND (x < (x2-x1)*(y-y1)/(y2-y1) + x1)``.
    """
    terms = []
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the half-open ray
        term = (
            f"(CASE WHEN (({y1!r} > {y_expr}) != ({y2!r} > {y_expr})) "
            f"AND ({x_expr} < ({x2!r} - {x1!r}) * ({y_expr} - {y1!r}) "
            f"/ ({y2!r} - {y1!r}) + {x1!r}) THEN 1 ELSE 0 END)"
        )
        terms.append(term)
    if not terms:
        return "FALSE"
    return f"((({' + '.join(terms)}) % 2) = 1)"


def classify_sql(x_expr: str, y_expr: str, polygons: dict[str, Polygon] | None = None) -> str:
    """CASE expression assigning each point its first matching geofence.

    Matches the reference's precedence semantics (first polygon wins,
    reference Task3.py:64-69); unmatched points get ``'none'``.
    """
    polygons = HEADQUARTERS if polygons is None else polygons
    whens = " ".join(
        f"WHEN {point_in_polygon_sql(poly, x_expr, y_expr)} THEN '{name}'"
        for name, poly in polygons.items()
    )
    return f"(CASE {whens} ELSE 'none' END)"


def with_headquarters(df, x_col: str, y_col: str):
    """``df`` plus ``headquarters``: the :func:`classify_sql` geofence of
    each (``x_col``, ``y_col``) point, as a codegen'd Catalyst expression
    (no Python round-trip; contrast reference Task3.py:57-83)."""
    from pyspark.sql import functions as F

    return df.withColumn("headquarters", F.expr(classify_sql(x_col, y_col)))


def _raycast_numpy(xs, ys, polygon: Polygon):
    """Vectorized even-odd ray-cast; same semantics as point_in_polygon_sql."""
    import numpy as np

    inside = np.zeros(len(xs), dtype=bool)
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        if y1 == y2:
            continue
        crosses = (y1 > ys) != (y2 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (ys - y1) / (y2 - y1) + x1
        inside ^= crosses & (xs < xint)
    return inside


def classify_points_pandas_udf(polygons: dict[str, Polygon] | None = None):
    """Arrow-vectorized classifier: (lon, lat) Series -> geofence name Series.

    The scale path for *many* polygons: polygons are captured once in the
    closure (shipped once per task via the Spark closure broadcast), and each
    Arrow batch is classified with numpy — no per-row Python, no per-row
    polygon construction (contrast reference Task3.py:58).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    polys = HEADQUARTERS if polygons is None else polygons
    items = list(polys.items())

    @F.pandas_udf(T.StringType())
    def classify(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np

        xs = lon.to_numpy(dtype="float64", na_value=np.nan)
        ys = lat.to_numpy(dtype="float64", na_value=np.nan)
        out = np.full(len(xs), "none", dtype=object)
        unassigned = np.ones(len(xs), dtype=bool)
        for name, poly in items:
            hit = unassigned & _raycast_numpy(xs, ys, poly)
            out[hit] = name
            unassigned &= ~hit
        return pd.Series(out)

    return classify
