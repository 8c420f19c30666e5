"""Distributional analytics: RFM quartile segmentation, revenue
concentration (Gini / Lorenz top-decile share), and Benford first-digit
conformance.

Extends the reference's aggregation surface (SURVEY.md §2.5 — the
reference only has windowed counts, ``Task2.py:44-50``, ``Task3.py:84-89``)
with the *shape-of-the-distribution* summaries a curation / anti-fraud
pipeline reads off its fact tables: who are the heavy users (RFM), how
concentrated is the spend (Gini), and do the raw amounts look organic
(Benford). All three follow the repo's exact-parity rules:

- Money is held as BIGINT cents end-to-end; every ratio is emitted as an
  integer micro/ppm unit via ``floor`` so the driver's value-hash compare
  is deterministic across engines (see ``profiling.py`` for the pattern).
- No libm in the comparison path: the Benford expectation table is nine
  pinned integer constants (``floor(1e6*log10(1+1/d))``), not a runtime
  ``log10`` — DuckDB's and the JVM's ``log10`` are only 1-ulp classes and
  a ``floor`` straddling the ulp would flip a digit's expected ppm.
- Quartile scores come from :func:`cdf_buckets` (groupBy value →
  cumulative weight → broadcast join back), NOT a global ``ntile`` sort:
  the only window runs over the DISTINCT-value histogram, and ties get
  one consistent score (``ceil(4·cum_le/n)``) instead of ntile's
  order-dependent tie splitting. At 100 TB the histogram stays
  |distinct values| wide no matter how many customers there are.

The module also owns the package's exact-statistics kernels, which the
other operator modules call instead of restating them:

- :func:`exact_cuts` — exact quantile cut points of a histogram: for a
  fraction num/den, the smallest value whose cumulative weight reaches
  ``ceil(num·W/den)``, tested as ``den·cum ≥ num·W`` in integers;
- :func:`cdf_buckets` — each distinct value's CDF bucket
  ``ceil(k·cum_le/n)``;
- :func:`exact_gini` — per-group exact Gini and Lorenz top-decile share.

Scale notes per operator are in the docstrings; the shared posture: one
scan of ``orders``, map-side-combinable aggregates, windows only over
per-nation partitions or tiny histogram frames, dimension joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: floor(1e6 * log10(1 + 1/d)) for d = 1..9 — pinned so neither engine's
#: libm rounding can flip an expectation (they sum to 999,995 ppm; the
#: missing 5 ppm is the nine floors).
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)

#: quartile count for the RFM scores
RFM_Q = 4


def _order_cents(tables: dict[str, DataFrame]) -> DataFrame:
    """orders projected to (o_custkey, day, cents) — one scan, two columns."""
    return tables["orders"].select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )


def exact_cuts(
    hist: DataFrame, value: str, weight: str, cuts: dict, *group: str
) -> DataFrame:
    """Exact quantile cut points of a histogram, without a global sort.

    ``hist`` has one row per (``group``…, ``value``) and that row's
    ``weight``. ONE window per group runs over the histogram (|distinct
    values| rows, bounded by the value domain rather than the row count)
    to get each value's cumulative weight ``cum`` and the group's total
    ``W``. Each cut ``name: (num, den)`` is the smallest value with
    ``den·cum ≥ num·W``, i.e. the smallest value whose cumulative weight
    reaches ``ceil(num·W/den)``. The test is all-integer, so the cuts
    hash-match an oracle that writes ``cum >= (num·W + den − 1) DIV den``.

    A NULL value sorts first: its weight counts in ``W`` and in every
    ``cum``, but it is never a cut.

    Returns one row per group: the group columns, ``n`` (= ``W``) and one
    column per cut, in ``cuts`` order.
    """
    by_value = Window.partitionBy(*group).orderBy(value)
    cum = hist.select(
        *group,
        value,
        F.sum(weight)
        .over(by_value.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum(weight).over(Window.partitionBy(*group)).alias("n"),
    )
    return cum.groupBy(*group).agg(
        F.max("n").alias("n"),
        *(
            F.min(
                F.when(
                    F.lit(den) * F.col("cum") >= F.lit(num) * F.col("n"),
                    F.col(value),
                )
            ).alias(name)
            for name, (num, den) in cuts.items()
        ),
    )


def cdf_buckets(
    hist: DataFrame, value: str, weight: str, k: int, out: str
) -> DataFrame:
    """Map each distinct ``value`` of a histogram to its CDF bucket
    ``out`` = ceil(k·cum_le/n), 1..k.

    ONE window over the distinct-value histogram (|distinct| rows —
    bounded by the value domain, not the row count). Equal values always
    share a bucket, unlike ``ntile``. The ratio is the float chain
    ``(k·cum_le)/n`` that the oracles write as ``(k.0 * cum) / n``.
    """
    w = Window.orderBy(value).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    every = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.select(
        value,
        F.ceil(
            F.lit(float(k))
            * F.sum(weight).over(w).cast("double")
            / F.sum(weight).over(every).cast("double")
        )
        .cast("int")
        .alias(out),
    )


def exact_gini(
    frame: DataFrame, group: str, value: str, tie: str, slot: str
) -> DataFrame:
    """Per-``group`` exact Gini coefficient and Lorenz top-decile share
    of ``value``.

    With values x_1 ≤ … ≤ x_n per group (ties broken by ``tie``, which
    leaves both statistics unchanged — Σi·x_i is invariant under
    permuting equal values), Gini = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) and
    the top-decile share is the sum of the ceil(n/10) largest values over
    Σx. Both are emitted as ``floor(1e6·num/den)`` micros; num and den
    are exact int64s cast to double once, so the IEEE divide/multiply/
    floor chain is identical on both engines.

    Plan: per-GROUP ranks (windows partitioned by ``group``: a
    per-partition sort, never a global one), persisted in ``slot`` — the
    Gini aggregate and the top-decile branch both read the ranked frame
    instead of recomputing ``frame`` → per-group aggregate.

    Returns the group column, ``n``, ``total`` (Σx), ``gini_micro`` and
    ``top_decile_share_micro``.
    """
    from ..tables import persist_replacing

    ranked = persist_replacing(
        frame.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(group).orderBy(
                    F.col(value).asc(), F.col(tie).asc()
                )
            ),
        ),
        slot,
    )
    per_group = ranked.groupBy(group).agg(
        F.count("*").alias("n"),
        F.sum(value).alias("total"),
        F.sum(F.col("rn").cast("long") * F.col(value)).alias("t_weighted"),
    )
    top = (
        ranked.join(
            F.broadcast(
                per_group.select(
                    F.col(group).alias("g2"), F.col("n").alias("n2")
                )
            ),
            F.col(group) == F.col("g2"),
        )
        .where(F.col("rn") >= F.col("n2") - F.ceil(F.col("n2") / 10) + 1)
        .groupBy(group)
        .agg(F.sum(value).alias("top"))
    )
    num = (
        F.lit(2) * F.col("t_weighted") - (F.col("n") + F.lit(1)) * F.col("total")
    ).cast("double")
    den = (F.col("n") * F.col("total")).cast("double")
    return per_group.join(top, group).select(
        group,
        "n",
        "total",
        F.floor(F.lit(1000000.0) * num / den).cast("long").alias("gini_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.col("top").cast("double")
            / F.col("total").cast("double")
        )
        .cast("long")
        .alias("top_decile_share_micro"),
    )


def rfm_segments(tables: dict[str, DataFrame]) -> DataFrame:
    """RFM segmentation of customers from their order history.

    Per customer (customers with no orders are out of scope — RFM scores
    the purchasing population): ``recency_days`` = days from their last
    order to the corpus's latest order day, ``frequency`` = order count,
    ``monetary_cents`` = lifetime spend; each dimension scored into CDF
    quartiles 1..4 (r_q=1 ⇒ most recent tier, m_q=4 ⇒ top spend tier) and
    packed into the classic ``rfm_code`` = r·100 + f·10 + m.

    Plan: ONE scan → per-customer groupBy (1 shuffle on o_custkey),
    persisted — the max-day agg, the three histogram score maps, and the
    output all branch off the cached |customers|-row frame instead of
    re-reading orders (without the persist this plan re-scans the corpus
    8×) → 1-row max-day agg broadcast-crossed in → three
    :func:`cdf_buckets` score maps broadcast-joined back. Nothing downstream sorts globally.
    """
    from ..tables import persist_replacing

    per_cust = persist_replacing(
        _order_cents(tables)
        .groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        ),
        "distribution.rfm_per_cust",
    )
    max_day = per_cust.agg(F.max("last_d").alias("corpus_max_d"))
    per_cust = per_cust.crossJoin(F.broadcast(max_day)).select(
        F.col("o_custkey").alias("custkey"),
        F.datediff("corpus_max_d", "last_d").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    out = per_cust
    for col, score in (
        ("recency_days", "r_q"),
        ("frequency", "f_q"),
        ("monetary_cents", "m_q"),
    ):
        hist = per_cust.groupBy(col).agg(F.count("*").alias("cnt"))
        scores = cdf_buckets(hist, col, "cnt", RFM_Q, score)
        out = out.join(F.broadcast(scores), col)
    return out.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("rfm_code"),
    )


def nation_revenue_gini(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-nation revenue concentration: exact Gini coefficient and the
    Lorenz top-decile share of customer lifetime spend
    (:func:`exact_gini` over per-customer cents, ties broken by custkey).

    Plan: per-customer agg (1 shuffle) → broadcast customer→nation map →
    :func:`exact_gini` per nation, its ranked frame persisted — the Gini
    aggregate and the top-decile branch both read the cached
    |customers|-row ranked frame instead of re-scanning orders (3×
    without the persist). At 100 TB the window input is |customers| rows
    spread over 25 nation partitions; a skewed nation would take the
    salted two-level rank variant, but nation cardinality here is the
    bounded TPC-H dimension.
    """
    rev = (
        _order_cents(tables)
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    cust = tables["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = tables["nation"].select("n_nationkey", "n_name")
    gini = exact_gini(
        rev.join(F.broadcast(cust), "o_custkey"),
        "c_nationkey",
        "cents",
        "o_custkey",
        "distribution.gini_ranked",
    )
    return gini.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        "n_name",
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        "gini_micro",
        "top_decile_share_micro",
    )


def benford_first_digit(tables: dict[str, DataFrame]) -> DataFrame:
    """Benford's-law conformance of order amounts — the classic organic-
    vs-fabricated data-quality screen for financial facts.

    First significant digit of the cent amount (leading digit is invariant
    under the ×100 shift), counted in one map-side-combinable groupBy over
    at most 9 keys, then compared against the pinned ``BENFORD_PPM``
    expectation table. ``observed_ppm`` uses integer DIV (1e6·n fits int64
    up to ~9e12 orders); ``abs_dev_ppm`` is the per-digit gap a monitor
    would threshold (sum of gaps ≈ the L1 Benford distance in ppm).

    Scale: a single scan + a 9-group aggregate (persisted — ≤9 rows — so
    the total branch doesn't re-scan orders); the 1-row total is
    broadcast-crossed in. Nothing here grows with the corpus.
    """
    from ..tables import persist_replacing

    digits = _order_cents(tables).select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = persist_replacing(
        digits.groupBy("digit").agg(F.count("*").alias("n_orders")),
        "distribution.benford_counts",
    )
    total = counts.agg(F.sum("n_orders").alias("total"))
    expect = "CASE digit " + " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(BENFORD_PPM, start=1)
    ) + " END"
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("1000000 * n_orders DIV total").alias("observed_ppm"),
            F.expr(expect).cast("long").alias("benford_ppm"),
        )
        .withColumn(
            "abs_dev_ppm",
            F.abs(F.col("observed_ppm") - F.col("benford_ppm")).cast("long"),
        )
    )


QUERIES = {
    "rfm_segments": rfm_segments,
    "nation_revenue_gini": nation_revenue_gini,
    "benford_first_digit": benford_first_digit,
}

_ORDER_CENTS_CTE = """
        oc AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders
        )
"""

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(BENFORD_PPM, start=1)
) + " END"

ORACLES: dict[str, str] = {
    "rfm_segments": f"""
        WITH {_ORDER_CENTS_CTE},
        per_cust AS MATERIALIZED (
          SELECT o_custkey AS custkey,
                 date_diff('day', max(d),
                           (SELECT max(d) FROM oc)) AS recency_days,
                 count(*) AS frequency,
                 CAST(sum(cents) AS BIGINT) AS monetary_cents
          FROM oc GROUP BY o_custkey
        ),
        scored AS (
          -- grouping must mirror Spark exactly: (4.0 * cum) / n, never
          -- 4.0 * (cum / n) — the two double chains can round differently
          SELECT custkey, recency_days, frequency, monetary_cents,
                 CAST(ceil({float(RFM_Q)} * CAST(count(*) OVER (ORDER BY recency_days
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE))
                      AS INTEGER) AS r_q,
                 CAST(ceil({float(RFM_Q)} * CAST(count(*) OVER (ORDER BY frequency
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE))
                      AS INTEGER) AS f_q,
                 CAST(ceil({float(RFM_Q)} * CAST(count(*) OVER (ORDER BY monetary_cents
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE))
                      AS INTEGER) AS m_q
          FROM per_cust
        )
        SELECT custkey, CAST(recency_days AS INTEGER) AS recency_days,
               frequency, monetary_cents, r_q, f_q, m_q,
               CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS rfm_code
        FROM scored
    """,
    "nation_revenue_gini": f"""
        WITH {_ORDER_CENTS_CTE},
        rev AS MATERIALIZED (
          SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS cents
          FROM oc GROUP BY o_custkey
        ),
        ranked AS MATERIALIZED (
          SELECT r.o_custkey, r.cents, c.c_nationkey,
                 row_number() OVER (PARTITION BY c.c_nationkey
                                    ORDER BY r.cents ASC, r.o_custkey ASC)
                   AS rn
          FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
        ),
        per_nation AS MATERIALIZED (
          SELECT c_nationkey, count(*) AS n_customers,
                 CAST(sum(cents) AS BIGINT) AS total_cents,
                 CAST(sum(CAST(rn AS BIGINT) * cents) AS BIGINT) AS t_weighted
          FROM ranked GROUP BY c_nationkey
        ),
        top AS (
          SELECT r.c_nationkey, CAST(sum(r.cents) AS BIGINT) AS top_cents
          FROM ranked r JOIN per_nation p USING (c_nationkey)
          WHERE r.rn >= p.n_customers - CAST(ceil(p.n_customers / 10.0) AS BIGINT) + 1
          GROUP BY r.c_nationkey
        )
        SELECT n.n_name, p.n_customers, p.total_cents,
               CAST(floor(1000000.0
                 * CAST(2 * p.t_weighted
                        - (p.n_customers + 1) * p.total_cents AS DOUBLE)
                 / CAST(p.n_customers * p.total_cents AS DOUBLE))
                 AS BIGINT) AS gini_micro,
               CAST(floor(1000000.0 * CAST(t.top_cents AS DOUBLE)
                 / CAST(p.total_cents AS DOUBLE)) AS BIGINT)
                 AS top_decile_share_micro
        FROM per_nation p
        JOIN top t USING (c_nationkey)
        JOIN nation n ON p.c_nationkey = n.n_nationkey
    """,
    "benford_first_digit": f"""
        WITH {_ORDER_CENTS_CTE},
        counts AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit,
                 count(*) AS n_orders
          FROM oc GROUP BY 1
        )
        SELECT digit, n_orders,
               CAST(1000000 * n_orders // (SELECT sum(n_orders) FROM counts)
                 AS BIGINT) AS observed_ppm,
               CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
               CAST(abs(1000000 * n_orders
                        // (SELECT sum(n_orders) FROM counts)
                        - ({_BENFORD_CASE})) AS BIGINT) AS abs_dev_ppm
        FROM counts
    """,
}
