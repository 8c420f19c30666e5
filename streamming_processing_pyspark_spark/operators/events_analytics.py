"""Event-stream path analytics over the ``events`` table.

Extends the reference's windowed-count surface (``Task2-4`` — SURVEY.md
§2.5-2.6) with the sequence-shaped analytics a production event pipeline
runs next: transition matrices, conversion latency, anomaly flags, and
sketch-based distinct counts.

Scale posture (100 TB): every query here makes exactly ONE input-sized
shuffle — the ``Window.partitionBy("user_id")`` sort or the groupBy hash
exchange — and every later step operates on the already-reduced frame
(transition matrix ≤ |types|², hourly frame ≤ hours-in-range rows).
``hll_user_sketches`` is the mergeable-sketch path: per-partition HLL
sketches combine associatively, so the same query runs map-side-partial
on 1000 executors with a constant-size shuffle payload per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windowed import hourly_counts

# Consecutive-event ordering: (ts, event_id) — event_id breaks timestamp
# ties deterministically (both engines sort identically on the pair).
_BY_TIME = ["ts", "event_id"]


def event_transitions(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-user consecutive event-type transition counts (Markov matrix).

    One sort-shuffle on ``user_id`` for the lag; the transition matrix
    itself is ≤ |event_types|² rows, so the final groupBy is a no-op
    shuffle of a tiny frame.
    """
    ev = tables["events"]
    w = Window.partitionBy("user_id").orderBy(*_BY_TIME)
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


#: PageRank fixed-point scale (micro-units), damping 85/100, iterations
PR_SCALE = 1_000_000
PR_ITERS = 3


def pagerank_event_types(tables: dict[str, DataFrame]) -> DataFrame:
    """Weighted PageRank over the event-type transition graph — iterative
    graph analytics on DataFrames with an EXACT cross-engine oracle.

    Float PageRank is order-of-summation dependent, so a distributed run
    can never hash-match a sequential one. This formulation is pure int64
    fixed-point: ranks in micro-units, per-edge transition probabilities
    pre-quantized (``w * SCALE DIV outw``), and each round computes
    ``base + Σ (85·r·p) DIV (100·SCALE)`` — integer division truncates
    identically everywhere, so Spark and the DuckDB recursive-round oracle
    agree bit-for-bit after any number of rounds. (Rounding mass-loss is
    deterministic and shared by both engines — the point is exactness of
    the fixed-point algebra, not of real-number PageRank.)

    Scale shape: the only input-sized stage is the transition-count
    aggregation (one sort-shuffle per :func:`event_transitions`); the
    iteration loop runs on the ≤|types|² edge frame. The same loop over a
    100 TB user-user graph keeps the identical plan — per-round cost is
    one join + one aggregation on the edge list, the standard
    Pregel-on-DataFrames formulation (cf. dedup_clusters' CC loop).
    ``n`` (node count) is the loop's only driver value — a bounded scalar.
    """
    from ..tables import persist_replacing

    edges = event_transitions(tables)
    outw = edges.groupBy("from_type").agg(F.sum("n_transitions").alias("outw"))
    # the edge-probability and node frames are read once per round by the
    # loop below — pinned, or every round re-runs the corpus-sized
    # transition aggregation (the executed plan showed 10 events scans
    # for 3 rounds; with the pins, one)
    p = persist_replacing(
        edges.join(outw, "from_type").select(
            "from_type",
            "to_type",
            F.expr(f"(n_transitions * {PR_SCALE}) DIV outw").alias("p"),
        ),
        "pagerank_edges",
    )
    nodes = persist_replacing(
        tables["events"].select(F.col("event_type").alias("node")).distinct(),
        "pagerank_nodes",
    )
    n = nodes.count()
    base = (15 * PR_SCALE) // (100 * n)
    r = nodes.withColumn("r", F.lit(PR_SCALE // n).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            p.join(r, p.from_type == r.node)
            .select(
                "to_type",
                F.expr(f"(85 * r * p) DIV (100 * {PR_SCALE})").alias("c"),
            )
            .groupBy("to_type")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(contrib, nodes.node == contrib.to_type, "left").select(
            "node",
            (F.lit(base) + F.coalesce("s", F.lit(0))).cast("long").alias("r"),
        )
    return r.select("node", F.col("r").alias("rank_micro"))


def _pagerank_oracle() -> str:
    base = f"(15 * {PR_SCALE}) // (100 * (SELECT count(*) FROM nodes))"
    rounds = ""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        rounds += f""", r{i} AS (
          SELECT n.node,
                 {base} + coalesce(sum((85 * {prev}.r * p.p)
                                       // (100 * {PR_SCALE})), 0) AS r
          FROM nodes n
          LEFT JOIN p ON p.to_type = n.node
          LEFT JOIN {prev} ON {prev}.node = p.from_type
          GROUP BY n.node
        )"""
        prev = f"r{i}"
    return f"""
        WITH t AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        ),
        e AS (
          SELECT from_type, event_type AS to_type, count(*) AS w
          FROM t WHERE from_type IS NOT NULL GROUP BY ALL
        ),
        ow AS (SELECT from_type, sum(w) AS outw FROM e GROUP BY from_type),
        p AS (
          SELECT e.from_type, e.to_type, (e.w * {PR_SCALE}) // ow.outw AS p
          FROM e JOIN ow USING (from_type)
        ),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        r0 AS (
          SELECT node,
                 {PR_SCALE} // (SELECT count(*) FROM nodes) AS r
          FROM nodes
        ){rounds}
        SELECT node, CAST(r AS BIGINT) AS rank_micro FROM {prev}
    """


def event_path_trigrams(tables: dict[str, DataFrame]) -> DataFrame:
    """Counts of consecutive event-type trigrams per user stream.

    Same single sort-shuffle as :func:`event_transitions`; two stacked
    ``lag`` calls reuse one window sort (Catalyst plans a single
    ``WindowExec`` for same-spec functions).
    """
    ev = tables["events"]
    w = Window.partitionBy("user_id").orderBy(*_BY_TIME)
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .where(F.col("t1").isNotNull())
        .groupBy("t1", "t2", F.col("event_type").alias("t3"))
        .agg(F.count("*").alias("n"))
    )


def conversion_latency(tables: dict[str, DataFrame]) -> DataFrame:
    """Seconds from each user's first ``view`` to the first ``purchase``
    after it.

    Two-phase: a per-user window computes the first view timestamp, then a
    plain groupBy finds the earliest later purchase — both land on the same
    ``user_id`` hash/sort partitioning, so AQE reuses one exchange. Latency
    is computed on integer epoch seconds (``cast(ts as long)`` floors, and
    DuckDB's ``date_diff('second', …)`` counts the same boundary crossings)
    so the result is bit-exact across engines.
    """
    ev = tables["events"]
    w = Window.partitionBy("user_id")
    with_view = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    per_user = (
        with_view.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
        .where(F.col("t_purchase").isNotNull())
    )
    return per_user.select(
        "user_id",
        (
            F.col("t_purchase").cast("long") - F.col("t_view").cast("long")
        ).alias("latency_sec"),
    )


def hourly_count_anomalies(tables: dict[str, DataFrame]) -> DataFrame:
    """Hours whose event count deviates > 2 standard deviations from the
    all-hours mean.

    The z-score test is evaluated ENTIRELY in int64 arithmetic —
    ``(cnt·n − T)²·(n−1) > 4·n·(n·Σx² − T²)`` is ``|cnt − mean| > 2·σ``
    cleared of divisions and sqrt — so Spark and the DuckDB oracle agree
    bit-for-bit (no float rounding at the threshold boundary). The global
    stats are a 1-row aggregate of the already-aggregated hourly frame,
    broadcast back onto it — no single-partition global window, so the
    plan stays parallel even if the hourly frame grows. The hourly frame
    is persisted so the stats branch and the output branch share ONE
    corpus scan (unpinned, the executed plan scanned events twice).
    """
    from ..tables import persist_replacing

    hourly = persist_replacing(hourly_counts(tables["events"]), "zscore_hourly")
    global_stats = hourly.agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
    )
    stats = hourly.crossJoin(F.broadcast(global_stats))
    dev = F.col("cnt") * F.col("n") - F.col("total")
    var_n2 = F.col("n") * F.col("sumsq") - F.col("total") * F.col("total")
    return (
        stats.where(dev * dev * (F.col("n") - F.lit(1)) > F.lit(4) * F.col("n") * var_n2)
        .select("window_start", "cnt")
    )


def hourly_count_anomalies_mad(tables: dict[str, DataFrame]) -> DataFrame:
    """Robust (median/MAD) twin of :func:`hourly_count_anomalies`: hours
    whose count deviates > 3 median-absolute-deviations from the all-hours
    median — the estimator that does NOT let the anomalies themselves
    inflate the yardstick (a burst hour moves the mean AND sigma of the
    z-score test; it barely moves the median/MAD).

    Output: ``window_start``, ``cnt``, ``med2`` = 2·median, ``mad4`` =
    4·MAD, ``is_anomaly``. With integer counts, the 0.5-interpolated
    median is a multiple of 1/2 and the MAD a multiple of 1/4, so ``med2``
    / ``mad4`` are EXACT integers and the flag is the integer comparison
    ``|4·cnt − 2·med2| > 3·mad4`` — no float at the decision boundary,
    bit-exact across engines (same clearing trick as the z-score twin).

    Scale: the percentile aggregations run on the already-aggregated
    hourly frame (|hours| rows — bounded by the time range, not the
    corpus), broadcast back as 1-row stats. The hourly frame is
    PERSISTED: three plan branches consume it (median, MAD, and the
    flagged output), and without the pin each re-runs the corpus scan —
    the executed plan showed 4 events scans; with it, one.
    """
    from ..tables import persist_replacing

    hourly = persist_replacing(hourly_counts(tables["events"]), "mad_hourly")
    med = hourly.agg(
        (2 * F.expr("percentile(cnt, 0.5)")).cast("long").alias("med2")
    )
    with_med = hourly.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        (4 * F.expr("percentile(abs(cnt - med2 / 2.0), 0.5)"))
        .cast("long")
        .alias("mad4")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "window_start",
            "cnt",
            "med2",
            "mad4",
            (
                F.abs(4 * F.col("cnt") - 2 * F.col("med2"))
                > 3 * F.col("mad4")
            ).alias("is_anomaly"),
        )
    )


def hll_user_sketches(tables: dict[str, DataFrame]) -> DataFrame:
    """Approximate distinct users per event type via Apache DataSketches
    HLL (``hll_sketch_agg``, Spark 3.5+).

    The sketch (not the raw values) is what crosses the shuffle: constant
    bytes per (group, partition) regardless of input size, and sketches
    merge associatively (``hll_union_agg``) across partitions, days, or
    clusters — the canonical 100 TB distinct-count pattern. No SQL oracle
    (estimates are engine-specific); tests bound the error vs the exact
    count instead.
    """
    ev = tables["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(12))
            ).alias("approx_users")
        )
    )


HLL_TOLERANCE_PCT = 5


def hll_vs_exact_distinct(tables: dict[str, DataFrame]) -> DataFrame:
    """DuckDB-checkable companion to :func:`hll_user_sketches`: exact
    distinct users per event type side-by-side with a hard claim about the
    sketch — ``estimate_within_tol`` asserts the HLL estimate is within
    HLL_TOLERANCE_PCT% of the exact count AS DATA. The oracle computes the
    exact count and expects the flag TRUE for every group, so the sketch's
    error bound is driver-verified (value-hash), not just test-asserted —
    turning the one inherently-approximate aggregate into a hard check.
    One pass: exact count_distinct and the sketch ride the same shuffle.
    """
    ev = tables["events"]
    est = F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user_id"), F.lit(12)))
    exact = F.count_distinct("user_id")
    return (
        ev.groupBy("event_type")
        .agg(exact.alias("exact_users"), est.alias("est"))
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                * F.lit(100)
                <= F.lit(HLL_TOLERANCE_PCT) * F.col("exact_users")
            ).alias("estimate_within_tol"),
        )
    )


def value_trend_by_type(tables: dict[str, DataFrame]) -> DataFrame:
    """Least-squares slope of ``value`` vs hour-of-day, per event type.

    Equivalent to ``regr_slope(value, hour(ts))`` but computed from EXACT
    int64 moment sums (value scaled ×100 to an integer, hour already
    integral): ``slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)`` with a single
    float division at the end, so Spark and DuckDB agree bit-for-bit —
    engine-native ``regr_slope`` differs in float summation order. One
    map-side-combined shuffle on ``event_type``; the moment sums are the
    only state, so the same query runs as a streaming aggregation.
    """
    ev = tables["events"]
    base = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    s = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("v").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("v")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "event_type",
        "n",
        (num / (den * F.lit(100.0))).alias("slope_per_hour"),
    )


def km_conversion_survival(tables: dict[str, DataFrame]) -> DataFrame:
    """Kaplan–Meier estimate of the view→purchase conversion-time curve,
    WITH right-censoring — the survival-analysis complement of
    ``conversion_latency`` (which drops non-converters; here a user whose
    log simply ends contributes at-risk time until their last event, the
    statistically honest treatment).

    Per user: start = first ``view``; event = first later ``purchase``
    (duration in whole hours, integer epoch-second arithmetic as pinned
    by conversion_latency); otherwise censored at the last event. KM at
    duration t: ``S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)`` with deaths and
    censors at the same hour both in the risk set.

    The cumulative product is sequential, so it uses the engine's
    time-bounded-fold pattern (cf. ``timeseries.ewma_hourly_value``):
    the corpus-sized work is one per-user aggregation; the distinct
    durations (≤ the time range in hours, data-independent) are folded
    in-executor over the sorted array, each factor ONE IEEE division and
    the running product a pinned left-to-right multiply chain — so
    ``km_micro`` hash-matches the oracle's identical list fold exactly.

    Output per distinct duration: ``dur_hours``, ``n_risk``, ``n_conv``,
    ``n_censored``, ``km_micro`` = floor(1e6·S) after that duration.
    """
    ev = tables["events"]
    w = Window.partitionBy("user_id")
    with_view = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    per_user = (
        with_view.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_conv"),
            F.max("ts").alias("t_last"),
        )
        .where(F.col("t_view").isNotNull())
    )
    durs = per_user.select(
        F.expr(
            "(CAST({e} AS LONG) - CAST(t_view AS LONG)) DIV 3600".format(
                e="coalesce(t_conv, t_last)"
            )
        ).alias("dur_hours"),
        F.col("t_conv").isNotNull().cast("long").alias("conv"),
    )
    cells = durs.groupBy("dur_hours").agg(
        F.sum("conv").alias("d"),
        F.sum(1 - F.col("conv")).alias("c"),
    )
    wall = Window.orderBy("dur_hours")
    rows = cells.select(
        "dur_hours",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(
                wall.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
        ).alias("n_risk"),
        (
            F.lit(1.0)
            - F.col("d").cast("double")
            / F.sum(F.col("d") + F.col("c"))
            .over(
                wall.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
            .cast("double")
        ).alias("factor"),
    )
    arr = rows.agg(
        F.sort_array(
            F.collect_list(
                F.struct("dur_hours", "d", "c", "n_risk", "factor")
            )
        ).alias("arr")
    )
    folded = arr.withColumn(
        "s",
        F.expr(
            "aggregate(arr, CAST(array() AS ARRAY<DOUBLE>),"
            " (acc, e) -> array_append(acc,"
            "   CASE WHEN size(acc) = 0 THEN CAST(1.0 AS DOUBLE) * e.factor"
            "        ELSE element_at(acc, -1) * e.factor END))"
        ),
    )
    return folded.select(
        F.explode(
            F.expr(
                "transform(arr, (e, i) -> struct("
                " e.dur_hours AS dur_hours, e.n_risk AS n_risk,"
                " e.d AS n_conv, e.c AS n_censored,"
                " CAST(floor(1000000 * element_at(s, i + 1)) AS LONG)"
                "   AS km_micro))"
            )
        ).alias("r")
    ).select("r.dur_hours", "r.n_risk", "r.n_conv", "r.n_censored", "r.km_micro")


#: association rules: minimum pair support (baskets containing both)
BASKET_MIN_SUPPORT = 10


def basket_pair_lift(tables: dict[str, DataFrame]) -> DataFrame:
    """Market-basket association over (user, day) baskets of event
    types: for every type pair, support and LIFT = P(xy)/(P(x)·P(y)) —
    the level-2 frequent-itemset / cross-feature signal ("users who
    error today also purchase today, 1.3× over independence").

    Shape: one distinct pass builds the basket-item table (baskets ×
    ≤|types| rows — tiny after the map-side-combinable distinct); pairs
    come from a self-equi-join on the basket key, bounded per basket by
    |types|² (the itemset-mining bound: explode per-basket combinations,
    never a table×table product). Lift is a single double expression
    over exact integer supports, micro-floored.

    Output per (a < b) pair with ``pair_support ≥ BASKET_MIN_SUPPORT``:
    ``item_a``, ``item_b``, ``pair_support``, ``support_a``,
    ``support_b``, ``lift_micro``.
    """
    from ..tables import persist_replacing

    ev = tables["events"]
    items = persist_replacing(
        ev.select(
            "user_id", F.to_date("ts").alias("day"), "event_type"
        ).distinct(),
        "basket_items",
    )
    n_baskets = items.select("user_id", "day").distinct().agg(
        F.count("*").alias("n")
    )
    supp = items.groupBy("event_type").agg(F.count("*").alias("s"))
    pairs = (
        items.alias("x")
        .join(
            items.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.day") == F.col("y.day"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("item_a"),
            F.col("y.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("pair_support"))
        .where(F.col("pair_support") >= BASKET_MIN_SUPPORT)
    )
    sa = supp.select(F.col("event_type").alias("item_a"), F.col("s").alias("support_a"))
    sb = supp.select(F.col("event_type").alias("item_b"), F.col("s").alias("support_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_support",
            "support_a",
            "support_b",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("n").cast("double")
                    * F.col("pair_support").cast("double")
                )
                / (
                    F.col("support_a").cast("double")
                    * F.col("support_b").cast("double")
                )
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )


def cohort_ltv_cents(tables: dict[str, DataFrame]) -> DataFrame:
    """Cohorted lifetime value: users grouped by first-seen day, CUMULATIVE
    purchase cents per user by day offset — the revenue companion to
    ``windowed.retention_cohorts`` (which counts actives; this integrates
    value, the curve growth teams actually plot).

    Two shuffles total (first-seen groupBy + the cohort cells groupBy,
    both user/cohort-keyed); the cumulative sum runs over ≤ cohorts×span
    cells. ``cum_cents_per_user_milli`` divides by the COHORT size (a
    constant per cohort), so the curve is comparable across cohorts.
    """
    ev = tables["events"]
    e = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("long"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_users")
    )
    cells = (
        e.join(first_seen, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.sum("cents").alias("day_cents"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "cohort_users",
            F.sum("day_cents").over(w).alias("cum_cents"),
        )
        .select(
            "cohort_day",
            "day_offset",
            "cohort_users",
            "cum_cents",
            F.expr("1000 * cum_cents DIV cohort_users").alias(
                "cum_cents_per_user_milli"
            ),
        )
    )


def conditional_entropy_next_event(tables: dict[str, DataFrame]) -> DataFrame:
    """Sequence predictability: the conditional entropy H(next | current)
    of the per-user event stream, per current type — near 0 means the
    next action is deterministic (automation/bot or a forced flow), high
    means the transition matrix carries no signal. The information-
    theoretic summary OVER ``event_transitions``' Markov counts (and the
    quantity DoReMi-style samplers weigh sequence data by).

    Same single sort-shuffle as the transition matrix; the entropy terms
    are one quarantined ``ln`` per matrix cell (≤ |types|² of them),
    micro-floored before the per-row sum so the reduction is exact.

    Output per current type: ``from_type``, ``n_transitions``,
    ``n_next_types``, ``entropy_micro`` = Σ floor(1e6·(c/n)·ln(n/c)).
    """
    trans = event_transitions(tables)
    totals = trans.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_i"),
        F.count("*").alias("n_next_types"),
    )
    term = F.floor(
        F.lit(1000000.0)
        * (F.col("n_transitions").cast("double") / F.col("n_i").cast("double"))
        * F.log(
            F.col("n_i").cast("double") / F.col("n_transitions").cast("double")
        )
    ).cast("long")
    return (
        trans.join(F.broadcast(totals), "from_type")
        .groupBy("from_type")
        .agg(
            F.first("n_i").alias("n_transitions"),
            F.first("n_next_types").alias("n_next_types"),
            F.sum(term).alias("entropy_micro"),
        )
    )


#: recency decay: half-life in days and the fixed-point shift. Weight for
#: an event b half-lives old is 2^(SHIFT−b) — an INTEGER (b capped at
#: SHIFT), so the decayed sum is exact int64 arithmetic in both engines:
#: the classic float-free way to do exponential time-decay scoring
#: (cents ≤ ~5e4 × 2^30 ≈ 5e13 per row, corpus sums well inside int64).
DECAY_HALF_LIFE_DAYS = 7
DECAY_SHIFT = 30


def user_recency_decay_scores(t: Tables) -> DataFrame:
    """Recency-weighted engagement score per user — each event's value
    halves every ``DECAY_HALF_LIFE_DAYS`` (bucketed to whole half-lives),
    the standard recency prior for replay sampling / CRM ranking, done in
    EXACT integer arithmetic: weight = 2^(SHIFT−half_lives_old) is a pure
    bit-shift, so no float summation-order hazard exists and the oracle
    hash-matches. The reference epoch is the corpus max timestamp
    (broadcast 1-row aggregate); the scoring pass is map-side and one
    groupBy(user) with partial combine.

    Output: ``user_id``, ``n_events``, ``score_scaled`` (Σ cents·weight;
    divide by 2^SHIFT for unit-cents), ``last_seen_ts``.
    """
    ev = t["events"].select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    # pinned cross-engine equivalence: Spark cast(ts as bigint) difference
    # == DuckDB date_diff('second', ts, max_ts); the weight is a pure
    # bit-shift (shiftleft with a column shift needs the SQL form)
    weighted = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "ts",
        F.expr(
            "cents * shiftleft(CAST(1 AS BIGINT),"
            f" CAST({DECAY_SHIFT} - least("
            "(CAST(max_ts AS BIGINT) - CAST(ts AS BIGINT))"
            f" DIV {86400 * DECAY_HALF_LIFE_DAYS}, {DECAY_SHIFT}) AS INT))"
        ).alias("w_cents"),
    )
    return weighted.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("w_cents").alias("score_scaled"),
        F.max("ts").alias("last_seen_ts"),
    )


QUERIES = {
    "user_recency_decay_scores": user_recency_decay_scores,
    "km_conversion_survival": km_conversion_survival,
    "basket_pair_lift": basket_pair_lift,
    "cohort_ltv_cents": cohort_ltv_cents,
    "conditional_entropy_next_event": conditional_entropy_next_event,
    "hourly_count_anomalies_mad": hourly_count_anomalies_mad,
    "event_transitions": event_transitions,
    "pagerank_event_types": pagerank_event_types,
    "event_path_trigrams": event_path_trigrams,
    "conversion_latency": conversion_latency,
    "hourly_count_anomalies": hourly_count_anomalies,
    "hll_user_sketches": hll_user_sketches,
    "hll_vs_exact_distinct": hll_vs_exact_distinct,
    "value_trend_by_type": value_trend_by_type,
}

_TRANSITIONS_CTE = """
        t AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        ),
        trans AS (
          SELECT from_type, event_type AS to_type, count(*) AS n_transitions
          FROM t WHERE from_type IS NOT NULL GROUP BY ALL
        )"""


ORACLES: dict[str, str] = {
    "user_recency_decay_scores": f"""
        WITH mx AS (SELECT max(ts) AS max_ts FROM events),
        w AS (
          SELECT user_id, ts,
                 CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(power(2, {DECAY_SHIFT} - least(
                       date_diff('second', ts, mx.max_ts)
                         // {86400 * DECAY_HALF_LIFE_DAYS},
                       {DECAY_SHIFT})) AS BIGINT) AS w_cents
          FROM events, mx
        )
        SELECT user_id, count(*) AS n_events,
               CAST(sum(w_cents) AS BIGINT) AS score_scaled,
               max(ts) AS last_seen_ts
        FROM w GROUP BY user_id
    """,
    "cohort_ltv_cents": """
        WITH e AS (
          SELECT user_id, CAST(ts AS DATE) AS d,
                 CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END AS cents
          FROM events
        ),
        first_seen AS (
          SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id
        ),
        sizes AS (
          SELECT cohort_day, count(*) AS cohort_users
          FROM first_seen GROUP BY cohort_day
        ),
        cells AS (
          SELECT f.cohort_day,
                 date_diff('day', f.cohort_day, e.d) AS day_offset,
                 CAST(sum(e.cents) AS BIGINT) AS day_cents
          FROM e JOIN first_seen f USING (user_id)
          GROUP BY 1, 2
        ),
        cum AS (
          SELECT cohort_day, day_offset,
                 CAST(sum(day_cents) OVER (PARTITION BY cohort_day
                        ORDER BY day_offset ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
          FROM cells
        )
        SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(c.day_offset AS INTEGER) AS day_offset,
               s.cohort_users, c.cum_cents,
               CAST(1000 * c.cum_cents // s.cohort_users AS BIGINT)
                 AS cum_cents_per_user_milli
        FROM cum c JOIN sizes s USING (cohort_day)
    """,
    "conditional_entropy_next_event": f"""
        WITH {_TRANSITIONS_CTE},
        totals AS (
          SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_i,
                 count(*) AS n_next_types
          FROM trans GROUP BY from_type
        )
        SELECT tr.from_type,
               any_value(tt.n_i) AS n_transitions,
               any_value(tt.n_next_types) AS n_next_types,
               CAST(sum(CAST(floor(
                 1000000.0
                 * (CAST(tr.n_transitions AS DOUBLE) / CAST(tt.n_i AS DOUBLE))
                 * ln(CAST(tt.n_i AS DOUBLE)
                      / CAST(tr.n_transitions AS DOUBLE))
               ) AS BIGINT)) AS BIGINT) AS entropy_micro
        FROM trans tr JOIN totals tt USING (from_type)
        GROUP BY tr.from_type
    """,
    "basket_pair_lift": f"""
        WITH items AS MATERIALIZED (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
          FROM events
        ),
        nb AS (
          SELECT count(*) AS n
          FROM (SELECT DISTINCT user_id, day FROM items)
        ),
        supp AS (
          SELECT event_type, count(*) AS s FROM items GROUP BY event_type
        ),
        pairs AS (
          SELECT x.event_type AS item_a, y.event_type AS item_b,
                 count(*) AS pair_support
          FROM items x JOIN items y
            ON x.user_id = y.user_id AND x.day = y.day
           AND x.event_type < y.event_type
          GROUP BY 1, 2
          HAVING count(*) >= {BASKET_MIN_SUPPORT}
        )
        SELECT p.item_a, p.item_b, p.pair_support,
               sa.s AS support_a, sb.s AS support_b,
               CAST(floor(
                 (1000000.0 * (CAST(nb.n AS DOUBLE)
                               * CAST(p.pair_support AS DOUBLE)))
                 / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE))
               ) AS BIGINT) AS lift_micro
        FROM pairs p
        JOIN supp sa ON p.item_a = sa.event_type
        JOIN supp sb ON p.item_b = sb.event_type
        CROSS JOIN nb
    """,
    "km_conversion_survival": """
        WITH v AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 max(ts) AS t_last
          FROM events GROUP BY user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_conv
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        durs AS (
          SELECT date_diff('second', v.t_view,
                           coalesce(p.t_conv, v.t_last)) // 3600
                   AS dur_hours,
                 CASE WHEN p.t_conv IS NOT NULL THEN 1 ELSE 0 END AS conv
          FROM v LEFT JOIN p USING (user_id)
          WHERE v.t_view IS NOT NULL
        ),
        cells AS (
          SELECT dur_hours, CAST(sum(conv) AS BIGINT) AS d,
                 CAST(sum(1 - conv) AS BIGINT) AS c
          FROM durs GROUP BY dur_hours
        ),
        rows_ AS (
          SELECT dur_hours, d, c,
                 CAST(sum(d + c) OVER (ORDER BY dur_hours DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS n_risk,
                 row_number() OVER (ORDER BY dur_hours) AS rn
          FROM cells
        ),
        f AS (
          SELECT dur_hours, d, c, n_risk, rn,
                 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
          FROM rows_
        ),
        fl AS (SELECT list(factor ORDER BY dur_hours) AS fs FROM f)
        SELECT dur_hours, n_risk, d AS n_conv, c AS n_censored,
               CAST(floor(1000000 * list_reduce(
                 list_prepend(CAST(1.0 AS DOUBLE), fs[1:rn]),
                 (x, y) -> x * y)) AS BIGINT) AS km_micro
        FROM f, fl
    """,
    "hourly_count_anomalies_mad": """
        WITH hourly AS (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                 count(*) AS cnt
          FROM events GROUP BY 1
        ),
        med AS (
          SELECT CAST(2 * quantile_cont(cnt, 0.5) AS BIGINT) AS med2
          FROM hourly
        ),
        mad AS (
          SELECT CAST(4 * quantile_cont(abs(cnt - med2 / 2.0), 0.5)
                      AS BIGINT) AS mad4
          FROM hourly, med
        )
        SELECT h.window_start, CAST(h.cnt AS BIGINT) AS cnt,
               m.med2, d.mad4,
               abs(4 * h.cnt - 2 * m.med2) > 3 * d.mad4 AS is_anomaly
        FROM hourly h, med m, mad d
    """,
    # the TRUE literal makes the sketch's documented error bound part of
    # the hash-compared data: any group whose HLL estimate drifts past the
    # tolerance turns the flag false and fails the driver check
    "hll_vs_exact_distinct": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS estimate_within_tol
        FROM events GROUP BY event_type
    """,
    "pagerank_event_types": _pagerank_oracle(),
    "event_transitions": """
        WITH t AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        )
        SELECT from_type, event_type AS to_type, count(*) AS n_transitions
        FROM t WHERE from_type IS NOT NULL GROUP BY ALL
    """,
    "event_path_trigrams": """
        WITH t AS (
          SELECT user_id, event_type AS t3,
                 lag(event_type, 2) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t1,
                 lag(event_type, 1) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS t2
          FROM events
        )
        SELECT t1, t2, t3, count(*) AS n
        FROM t WHERE t1 IS NOT NULL GROUP BY ALL
    """,
    "conversion_latency": """
        WITH e AS (
          SELECT user_id, ts, event_type,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
          FROM events
        ), per_user AS (
          SELECT user_id, max(t_view) AS t_view,
                 min(CASE WHEN event_type = 'purchase' AND ts > t_view
                          THEN ts END) AS t_purchase
          FROM e GROUP BY user_id
        )
        SELECT user_id,
               date_diff('second', t_view, t_purchase) AS latency_sec
        FROM per_user WHERE t_purchase IS NOT NULL
    """,
    "value_trend_by_type": """
        WITH base AS (
          SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
                 CAST(round(value * 100, 0) AS BIGINT) AS v
          FROM events
        ), s AS (
          SELECT event_type, count(*) AS n, sum(x) AS sx, sum(v) AS sy,
                 sum(x * x) AS sxx, sum(x * v) AS sxy
          FROM base GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE) * 100.0)
                 AS slope_per_hour
        FROM s
    """,
    "hourly_count_anomalies": """
        WITH hourly AS (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                 count(*) AS cnt
          FROM events GROUP BY ALL
        ), s AS (
          SELECT *, count(*) OVER () AS n, sum(cnt) OVER () AS total,
                 sum(cnt * cnt) OVER () AS sumsq
          FROM hourly
        )
        SELECT window_start, cnt FROM s
        WHERE (cnt * n - total) * (cnt * n - total) * (n - 1)
              > 4 * n * (n * sumsq - total * total)
    """,
}
