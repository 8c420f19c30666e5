"""Advanced relational surface: JSON, sessionization, stats, quantiles,
outer joins, range joins, grouping sets, analytic functions.

Second tranche of the SURVEY.md §2.10 gap list. Everything Catalyst-only;
DuckDB oracles mirror semantics exactly (types normalized per side where the
engines' native widths differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..streaming.jobs import sessionize_stream
from ..tables import local_df
from .distribution import exact_cuts

Tables = dict[str, DataFrame]

SESSION_GAP_SECONDS = 1800


def json_extract_props(t: Tables) -> DataFrame:
    """JSON path extraction over the events.props payload column."""
    return t["events"].select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def variant_props_metrics(t: Tables) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VariantType:
    ``parse_json`` decodes each props payload ONCE into the binary
    Variant encoding and ``variant_get`` extracts typed fields from it —
    unlike ``get_json_object``, which re-parses the JSON string per
    extracted path. For wide semi-structured extraction (N fields per
    row) Variant is the 100 TB path: one parse, N cheap binary reads,
    and the whole pipeline stays codegen'd JVM expression work.

    Buckets the extracted integer and aggregates per bucket — exact
    integers plus a 2-dp value mean, hash-matched against DuckDB's JSON
    reader."""
    ev = t["events"].select(
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        "value",
    )
    return (
        ev.groupBy(F.expr("k DIV 10").cast("int").alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 2).alias("avg_value"),
        )
    )


def sessionize_events(t: Tables) -> DataFrame:
    """Gap-based sessionization: a >30-min silence starts a new session.

    lag → gap flag → running sum (the classic one-shuffle sessionizer;
    at scale this is one hash-shuffle on user_id plus a per-key sort,
    exactly what Catalyst plans for the window spec).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        > SESSION_GAP_SECONDS
    )
    ev = t["events"].withColumn(
        "new_session", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    ev = ev.withColumn("session_id", F.sum("new_session").over(frame))
    return ev.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def stats_by_type(t: Tables) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation."""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
            F.round(F.var_samp("value"), 4).alias("var_value"),
            F.round(F.corr("value", F.col("user_id").cast("double")), 4).alias(
                "corr_value_user"
            ),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


def percentiles_by_type(t: Tables) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == quantile_cont)."""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        )
    )


def approx_percentiles_by_type(t: Tables) -> DataFrame:
    """Approximate percentiles via ``approx_percentile`` (KLL-style sketch;
    mergeable partial aggregates) — the 100 TB path where exact
    ``percentile`` would buffer every group value. Accuracy is pinned
    against the exact form in tests (bounded rank error); no SQL oracle
    because sketch estimates are engine-specific → rows-only driver check.
    """
    acc = 10000  # 1/acc relative rank error
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.expr(f"approx_percentile(value, 0.25, {acc})").alias("p25"),
            F.expr(f"approx_percentile(value, 0.5, {acc})").alias("p50"),
            F.expr(f"approx_percentile(value, 0.75, {acc})").alias("p75"),
        )
    )


def approx_percentile_rank_check(t: Tables) -> DataFrame:
    """DuckDB-checkable claim about :func:`approx_percentiles_by_type`
    (itself rows-only — sketch estimates are engine-specific): per group,
    the exact median (hash-compared; Spark ``percentile`` == DuckDB
    ``quantile_cont``) plus a flag that the approx median lies inside the
    exact [p45, p55] value band. ``approx_percentile``'s rank error at
    accuracy 10 000 is 0.01% — four orders of magnitude inside the 5%
    band — so the flag is TRUE unless the sketch actually breaks, which
    makes the sketch's error contract a hard driver check.
    """
    g = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
            F.expr("percentile(value, 0.45)").alias("lo"),
            F.expr("percentile(value, 0.55)").alias("hi"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("ap"),
        )
    )
    return g.select(
        "event_type",
        "exact_p50",
        ((F.col("ap") >= F.col("lo")) & (F.col("ap") <= F.col("hi"))).alias(
            "within_rank_band"
        ),
    )


def mode_value_by_type(t: Tables) -> DataFrame:
    """Deterministic mode: most frequent value, smallest value wins ties
    (built from count + rank so both engines agree bit-for-bit)."""
    counts = t["events"].groupBy("event_type", "value").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("value"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("value").alias("mode_value"), F.col("n").alias("mode_n"))
    )


def full_outer_nation_counts(t: Tables) -> DataFrame:
    """Full outer join of two aggregates (nations with customers and/or
    suppliers), null-preserving."""
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_cust")
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_supp")
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select("nationkey", "n_cust", "n_supp")
    )


def range_join_value_buckets(t: Tables) -> DataFrame:
    """Range (theta) join against a small bucket dimension — broadcast so
    the fact side never shuffles; the predicate is lo <= v < hi."""
    spark = t["events"].sparkSession
    buckets = local_df(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    return (
        t["events"]
        .join(
            F.broadcast(buckets),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def grouping_sets_qty(t: Tables) -> DataFrame:
    """GROUPING SETS via the SQL API."""
    spark = t["lineitem"].sparkSession
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def unpivot_order_metrics(t: Tables) -> DataFrame:
    """Unpivot (melt): wide per-priority aggregates → long (metric, value).

    Spark's ``unpivot``/``melt`` API; DuckDB's UNPIVOT as oracle.
    """
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["total_price", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def range_frame_rolling_spend(t: Tables) -> DataFrame:
    """Time-range window frame: each order's customer spend over the
    preceding 90 days (RANGE frame over epoch seconds — value-based, not
    row-based, so it is correct under irregular order spacing)."""
    # NTZ→long needs an intermediate timestamp cast (session TZ is pinned
    # UTC, so this is plain epoch seconds — same as the oracle's epoch()).
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-90 * 86400, 0)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_90d"),
        F.count("*").over(w).alias("n_orders_90d"),
    )


def bag_semantics_priorities(t: Tables) -> DataFrame:
    """Bag (multiset) set ops: INTERSECT ALL of order priorities seen in
    1996 vs 1997 — duplicates preserved per multiset semantics."""
    a = t["orders"].where(F.year("o_orderdate") == 1996).select("o_orderpriority")
    b = t["orders"].where(F.year("o_orderdate") == 1997).select("o_orderpriority")
    return a.intersectAll(b)


def session_window_counts(t: Tables) -> DataFrame:
    """Native session windows (gap-close semantics: end = last event + gap).

    ``F.session_window`` works in batch and streaming alike; the oracle
    reproduces the merge rule with a lag/cumsum sessionizer (new session
    when the gap is ≥ the timeout). The streaming twin runs the same
    ``sessionize_stream`` over the events stream.
    """
    return sessionize_stream(t["events"])


def analytic_functions_showcase(t: Tables) -> DataFrame:
    """Ranking / distribution / frame-based window functions."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.first("o_orderkey").over(full).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
    )


def pareto_front_orders(t: Tables) -> DataFrame:
    """2-D skyline (Pareto front) of orders maximizing (price, recency):
    an order is on the front iff NO other order is at least as good on
    both axes and strictly better on one — the multi-objective
    shortlisting operator ("newest-and-biggest" candidates).

    The naive formulation is an O(n²) anti-join against a dominance
    theta-predicate; for 2 dimensions it collapses to two RANGE-frame
    window maxima over ONE sort on integer cents: dominated ⇔
    ``max(date | cents' > cents) ≥ date`` OR ``max(date | cents' ≥
    cents) > date`` (the second term catches equal-price/later-date
    dominators; exact (cents, date) duplicates correctly co-survive).
    No join — the classic sweep-line skyline as pure window algebra,
    identical in both engines. The UNPARTITIONED window is a deliberate
    single-reducer stage at test scale; the 100 TB layout is the same
    algebra over a range-partitioned sort on ``cents`` with each range
    prepended its right-neighbors' running ``max(date)`` (a per-boundary
    carry, the standard distributed suffix-scan move — cf.
    ``dedup.sorted_neighborhood_pairs``'s identical note).

    Output: the front, ``o_orderkey``, ``price_cents``, ``o_orderdate``.
    """
    o = t["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "price_cents"
        ),
        "o_orderdate",
    )
    # DESC ordering so both frames end at/before CURRENT ROW: Spark's
    # UNBOUNDED PRECEDING frames update incrementally (O(n)), while an
    # UNBOUNDED FOLLOWING frame RE-AGGREGATES the suffix for every row —
    # O(n²), measured as a 54-minute single task on 150k orders before
    # this orientation flip. Under DESC, "-1 preceding" = cents+1, i.e.
    # strictly-higher-priced rows.
    by_cents = Window.orderBy(F.col("price_cents").desc())
    gt = by_cents.rangeBetween(Window.unboundedPreceding, -1)
    ge = by_cents.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    marked = o.select(
        "o_orderkey",
        "price_cents",
        "o_orderdate",
        F.max("o_orderdate").over(gt).alias("maxd_gt"),
        F.max("o_orderdate").over(ge).alias("maxd_ge"),
    )
    # maxd_gt is NULL on the max-price row (empty frame): that row has no
    # higher-priced dominator, so the predicate must read NULL as False
    return marked.where(
        ~(
            F.coalesce(
                F.col("maxd_gt") >= F.col("o_orderdate"), F.lit(False)
            )
            | (F.col("maxd_ge") > F.col("o_orderdate"))
        )
    ).select("o_orderkey", "price_cents", "o_orderdate")


#: exact-percentile targets in percent (P50/P90/P99)
EXACT_PCT = (50, 90, 99)


def exact_percentiles_by_type(t: Tables) -> DataFrame:
    """EXACT P50/P90/P99 of the event value (cents) per type — without a
    global sort: aggregate to a per-(type, cents) histogram (map-side
    combinable, one shuffle of |distinct cents| rows) and take
    :func:`distribution.exact_cuts` over it: the smallest value whose
    cumulative count reaches ``ceil(q·n)``, the standard way to take
    exact quantiles of 100 TB. All-integer (``cum ≥ (q·n + 99) DIV
    100``), so it hash-matches the oracle; the sketch twin is
    :func:`approx_percentiles_by_type`.
    """
    hist = (
        t["events"]
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    cuts = {f"p{q}_cents": (q, 100) for q in EXACT_PCT}
    return exact_cuts(hist, "v_c", "cnt", cuts, "event_type").withColumnRenamed(
        "n", "n_events"
    )


def value_outliers_by_percentile(t: Tables) -> DataFrame:
    """Rows above their group's exact P99 — the standard "show me the
    tail" query, composed from :func:`exact_percentiles_by_type`: the
    per-type percentile table (|types| rows) BROADCASTS back onto the
    events scan, so outlier extraction runs at scan speed — the quantile
    machinery never touches the fact table a second time beyond the
    histogram it already built. Deterministic ordering not needed (full
    result set, order-insensitive driver hash)."""
    p = exact_percentiles_by_type(t).select("event_type", "p99_cents")
    ev = t["events"].select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    return (
        ev.join(F.broadcast(p), "event_type")
        .where(F.col("v_c") > F.col("p99_cents"))
        .select("event_id", "event_type", "v_c", "p99_cents")
    )


ORACLES: dict[str, str] = {
    "value_outliers_by_percentile": f"""
        WITH hist AS (
          SELECT event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS v_c,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, v_c,
                 CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v_c)
                      AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM hist
        ),
        p AS (
          SELECT event_type,
                 min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v_c END)
                   AS p99_cents
          FROM cum GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               CAST(round(e.value * 100, 0) AS BIGINT) AS v_c,
               p.p99_cents
        FROM events e JOIN p USING (event_type)
        WHERE CAST(round(e.value * 100, 0) AS BIGINT) > p.p99_cents
    """,
    "exact_percentiles_by_type": f"""
        WITH hist AS (
          SELECT event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS v_c,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, v_c,
                 CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v_c)
                      AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM hist
        )
        SELECT event_type, max(n) AS n_events,
               {", ".join(
                   f"min(CASE WHEN cum >= ({q} * n + 99) // 100 THEN v_c END)"
                   f" AS p{q}_cents"
                   for q in EXACT_PCT
               )}
        FROM cum GROUP BY event_type
    """,
    "pareto_front_orders": """
        WITH o AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
                 o_orderdate
          FROM orders
        ),
        marked AS (
          SELECT o_orderkey, price_cents, o_orderdate,
                 max(o_orderdate) OVER (ORDER BY price_cents DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS maxd_gt,
                 max(o_orderdate) OVER (ORDER BY price_cents DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS maxd_ge
          FROM o
        )
        SELECT o_orderkey, price_cents, o_orderdate
        FROM marked
        WHERE NOT (coalesce(maxd_gt >= o_orderdate, FALSE)
                   OR maxd_ge > o_orderdate)
    """,
    "json_extract_props": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        FROM events
    """,
    "variant_props_metrics": """
        SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
                    AS INTEGER) AS k_bucket,
               count(*) AS n_events,
               round(avg(value), 2) AS avg_value
        FROM events
        GROUP BY 1
    """,
    "sessionize_events": f"""
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) AS session_id
          FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
    """,
    "stats_by_type": """
        SELECT event_type,
               round(avg(value), 4) AS avg_value,
               round(stddev_samp(value), 4) AS stddev_value,
               round(var_samp(value), 4) AS var_value,
               round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM events GROUP BY event_type
    """,
    "percentiles_by_type": """
        SELECT event_type,
               round(quantile_cont(value, 0.25), 4) AS p25,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.75), 4) AS p75
        FROM events GROUP BY event_type
    """,
    "approx_percentile_rank_check": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS exact_p50,
               TRUE AS within_rank_band
        FROM events GROUP BY event_type
    """,
    "mode_value_by_type": """
        SELECT event_type, value AS mode_value, n AS mode_n FROM (
          SELECT event_type, value, count(*) AS n,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY count(*) DESC, value
                 ) AS rn
          FROM events GROUP BY event_type, value
        ) WHERE rn = 1
    """,
    "full_outer_nation_counts": """
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               c.n_cust AS n_cust, s.n_supp AS n_supp
        FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
              FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nationkey, count(*) AS n_supp
              FROM supplier GROUP BY 1) s
        USING (nationkey)
    """,
    "range_join_value_buckets": """
        WITH buckets(bucket, lo, hi) AS (
          VALUES ('low', 0.0, 50.0), ('mid', 50.0, 120.0), ('high', 120.0, 1e9)
        )
        SELECT bucket, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events JOIN buckets ON value >= lo AND value < hi
        GROUP BY bucket
    """,
    "grouping_sets_qty": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "unpivot_order_metrics": """
        SELECT o_orderpriority, metric, value FROM (
          SELECT o_orderpriority,
                 round(sum(o_totalprice), 2) AS total_price,
                 round(avg(o_totalprice), 2) AS avg_price
          FROM orders GROUP BY o_orderpriority
        ) UNPIVOT (value FOR metric IN (total_price, avg_price))
    """,
    "range_frame_rolling_spend": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER w, 2) AS spend_90d,
               count(*) OVER w AS n_orders_90d
        FROM orders
        WINDOW w AS (
          PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
          RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
        )
    """,
    "bag_semantics_priorities": """
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
        INTERSECT ALL
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1997
    """,
    "session_window_counts": """
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) AS sid
          FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM numbered GROUP BY user_id, sid
    """,
    "analytic_functions_showcase": """
        SELECT o_custkey, o_orderkey,
               CAST(dense_rank() OVER w AS INTEGER) AS drank,
               round(percent_rank() OVER w, 6) AS prank,
               round(cume_dist() OVER w, 6) AS cdist,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(lead(o_totalprice) OVER w, 2) AS next_price,
               first_value(o_orderkey) OVER wf AS first_order,
               last_value(o_orderkey) OVER wf AS last_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
}

QUERIES = {
    "pareto_front_orders": pareto_front_orders,
    "json_extract_props": json_extract_props,
    "variant_props_metrics": variant_props_metrics,
    "sessionize_events": sessionize_events,
    "stats_by_type": stats_by_type,
    "percentiles_by_type": percentiles_by_type,
    "exact_percentiles_by_type": exact_percentiles_by_type,
    "value_outliers_by_percentile": value_outliers_by_percentile,
    "approx_percentiles_by_type": approx_percentiles_by_type,
    "approx_percentile_rank_check": approx_percentile_rank_check,
    "mode_value_by_type": mode_value_by_type,
    "full_outer_nation_counts": full_outer_nation_counts,
    "range_join_value_buckets": range_join_value_buckets,
    "grouping_sets_qty": grouping_sets_qty,
    "unpivot_order_metrics": unpivot_order_metrics,
    "range_frame_rolling_spend": range_frame_rolling_spend,
    "bag_semantics_priorities": bag_semantics_priorities,
    "session_window_counts": session_window_counts,
    "analytic_functions_showcase": analytic_functions_showcase,
}
