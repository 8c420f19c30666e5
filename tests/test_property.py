"""Property-based tests (hypothesis): independent implementations must agree
on randomized inputs, including geometry boundary regions.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.functions.geo import (
    CITIGROUP,
    GOLDMAN,
    _raycast_numpy,
    point_in_polygon_sql,
)
from streamming_processing_pyspark_spark.functions.text import (
    FINGERPRINT_MOD,
    fingerprint,
)

_SETTINGS = dict(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# points concentrated around both polygons, including degenerate coords
_point = st.tuples(
    st.floats(-74.016, -74.008, allow_nan=False),
    st.floats(40.7125, 40.7230, allow_nan=False),
)


@settings(**_SETTINGS)
@given(st.lists(_point, min_size=64, max_size=64))
def test_raycast_sql_matches_numpy(spark, pts):
    import numpy as np

    df = spark.createDataFrame(pts, "lon double, lat double")
    for poly in (GOLDMAN, CITIGROUP):
        got = [
            r["inside"]
            for r in df.select(
                F.expr(point_in_polygon_sql(poly, "lon", "lat")).alias("inside")
            ).collect()
        ]
        xs = np.array([p[0] for p in pts])
        ys = np.array([p[1] for p in pts])
        want = list(_raycast_numpy(xs, ys, poly))
        assert got == want


_word = st.text(alphabet="abcdefghij", min_size=1, max_size=8)


@settings(**_SETTINGS)
@given(st.lists(_word, min_size=1, max_size=30))
def test_fingerprint_matches_python_reimpl(spark, words):
    text = " ".join(words)

    def py_fingerprint(t: str) -> int:
        total = 0
        for i, w in enumerate(t.strip().split()):
            total += (i + 1) * (31 * len(w) + ord(w[0]))
        return total % FINGERPRINT_MOD

    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(fingerprint("text").alias("fp")).collect()[0]["fp"]
    assert got == py_fingerprint(text)


_kt = st.tuples(st.integers(0, 3), st.integers(0, 20))


@settings(**_SETTINGS)
@given(
    st.lists(_kt, min_size=1, max_size=12),
    st.lists(_kt, min_size=0, max_size=12),
)
def test_asof_window_matches_python_reimpl(spark, ev_kt, ord_kt):
    """asof_join_window vs a brute-force Python as-of on randomized
    (key, time) sets — including duplicate (key, time) right rows, where
    the greatest tiebreak id must win, and keys with no match, which
    must drop (inner semantics)."""
    from streamming_processing_pyspark_spark.operators.asof import asof_join_window

    events = [(i, k, t) for i, (k, t) in enumerate(ev_kt)]
    orders = [(k, t, 100 + i) for i, (k, t) in enumerate(ord_kt)]

    want = set()
    for eid, k, t in events:
        cands = [(ot, oid) for (ok, ot, oid) in orders if ok == k and ot <= t]
        if cands:
            mt = max(ot for ot, _ in cands)
            mid = max(oid for ot, oid in cands if ot == mt)
            want.add((eid, k, t, mid, mt))

    left = spark.createDataFrame(events, "event_id long, user_id long, ts long")
    right = spark.createDataFrame(orders, "user_id long, o_time long, o_id long")
    got = {
        tuple(r)
        for r in asof_join_window(
            left,
            right,
            key="user_id",
            left_time="ts",
            right_time="o_time",
            right_cols=["o_id", "o_time"],
            right_tiebreak="o_id",
        ).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(_word, min_size=2, max_size=12), st.integers(0, 3))
def test_cms_seeded_hash_matches_python_reimpl(spark, tokens, seed):
    """The CMS's seeded portable hash must equal a character-fold Python
    reimplementation (the same recurrence DuckDB's list_reduce mirrors),
    including the space inside bigram keys."""
    from streamming_processing_pyspark_spark.functions.text import HASH_MOD, fold_hash

    text = " ".join(tokens)

    def py_hash(s: str, seed: int) -> int:
        acc = 7 + seed
        for ch in s:
            acc = (acc * 31 + ord(ch)) % HASH_MOD
        return acc

    df = spark.createDataFrame([(text,)], "bigram string")
    got = df.select(fold_hash("bigram", seed).alias("h")).collect()[0]["h"]
    assert got == py_hash(text, seed)


def _cut_reference(rows, num, den):
    """Sorted-expansion reference of one exact cut over (value, weight)
    rows: expand each row into ``weight`` copies, sort them with NULL
    first (Spark's ascending order) and read the copy at 1-based rank
    ceil(num·W/den). When that rank is 0 or falls on a NULL copy, every
    non-NULL value's cumulative weight reaches it, so the cut is the
    smallest non-NULL value, zero-weight values included."""
    copies = sorted(
        (v for v, w in rows for _ in range(w)),
        key=lambda v: (v is not None, 0 if v is None else v),
    )
    rank = -(-num * len(copies) // den)
    at = copies[rank - 1] if rank else None
    if at is not None:
        return at
    return min((v for v, _ in rows if v is not None), default=None)


# (group, value) -> weight: one histogram row per key; small domains give
# ties across groups, zero weights and a NULL value
_hist = st.dictionaries(
    st.tuples(st.sampled_from("ab"), st.one_of(st.none(), st.integers(-3, 6))),
    st.integers(0, 4),
    min_size=1,
    max_size=12,
)


@settings(**_SETTINGS)
@given(_hist, st.integers(1, 10))
@example({("a", 5): 1}, 1)
@example({("a", None): 2, ("a", 0): 0, ("a", 2): 1, ("b", 2): 3, ("b", 4): 0}, 4)
@example({("a", None): 3, ("a", 1): 0}, 2)
def test_exact_cuts_match_sorted_expansion(spark, hist, big_k):
    """distribution.exact_cuts, per group and over the whole histogram,
    returns for every fraction k/K (k = 0..K) the cut the sorted-expansion
    reference reads, and the group's total weight."""
    from collections import defaultdict

    from streamming_processing_pyspark_spark.operators.distribution import (
        exact_cuts,
    )

    cuts = {f"c{k}": (k, big_k) for k in range(big_k + 1)}
    df = spark.createDataFrame(
        [(g, v, w) for (g, v), w in hist.items()], "g string, v long, w long"
    )
    by_group = defaultdict(list)
    merged = defaultdict(int)
    for (g, v), w in hist.items():
        by_group[g].append((v, w))
        merged[v] += w

    got = {r["g"]: r for r in exact_cuts(df, "v", "w", cuts, "g").collect()}
    assert set(got) == set(by_group)
    for g, rows in by_group.items():
        assert got[g]["n"] == sum(w for _, w in rows)
        for name, (num, den) in cuts.items():
            assert got[g][name] == _cut_reference(rows, num, den), (g, name)

    whole = df.groupBy("v").agg(F.sum("w").alias("w"))
    (row,) = exact_cuts(whole, "v", "w", cuts).collect()
    rows = list(merged.items())
    assert row["n"] == sum(merged.values())
    for name, (num, den) in cuts.items():
        assert row[name] == _cut_reference(rows, num, den), name


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**12),
    st.integers(min_value=1, max_value=10**12),
)
def test_epoch_floor_correction_is_exact(n_a, n_b):
    """The epoch upsampler's floor(sqrt(n_max/n_s)) — one double sqrt
    seed corrected by the exact integer inequality — must equal the
    exact integer answer math.isqrt(n_max // n_s) for ANY counts (the
    identity floor(sqrt(a/b)) == isqrt(a // b) holds because f² <= a/b
    iff f² <= floor(a/b) for integer f). 500 randomized examples up to
    1e12 cover far past any realistic per-source corpus count."""
    import math

    n_max, n_s = max(n_a, n_b), min(n_a, n_b)
    f0 = int(math.floor(math.sqrt(n_max / n_s)))
    if f0 * f0 * n_s > n_max:
        f = f0 - 1
    elif (f0 + 1) * (f0 + 1) * n_s <= n_max:
        f = f0 + 1
    else:
        f = f0
    assert f == math.isqrt(n_max // n_s), (n_max, n_s, f0, f)
