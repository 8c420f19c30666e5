"""Event-time windowed analytics — the reference's core query surface.

Maps the reference's taxi queries onto the driver's ``events`` table
(FIXTURES.md §6: ``events.ts`` stands in for ``Lpep_dropoff_datetime``,
``event_type`` for the per-key dimension, numeric columns for geofence-style
classification):

- tumbling-window counts (reference ``Task2.py:44-51`` — A1/W1)
- windowed counts by key (reference ``Task3.py:84-89`` — A2)
- 10-minute windows (reference ``Task4.py:110-115`` — A3/W2)
- trend detection, both as the reference's self-join (``Task4.py:126-132`` —
  J1) and as the idiomatic ``lag()`` window rewrite that removes the join
  (SURVEY.md §2.4); tests assert the two forms agree.
- geofence classification (reference ``Task3.py:57-83`` — U1) via the pure-SQL
  ray-cast in :mod:`..functions.geo` — no Python round-trip.

Three builders carry all of it, for events and taxi trips alike.
:func:`window_counts` is the one windowed count (tumbling, or sliding with
``slide``, over any time column); the window queries here, the anomaly
detectors in ``events_analytics``, the streaming twins in ``registry`` and
the taxi Task2/3/4 jobs in ``streaming.jobs`` all call it.
:func:`lag_trends` is the one ``lag()`` trend rule; :func:`trending` and
the taxi drain's ``streaming.jobs.detect_trends_in_batch`` both call it
and pick their own output columns. ``functions.geo.with_headquarters`` is
the one geofence column. Only :func:`trending_selfjoin`, the
reference-shaped form that tests compare against, spells the trend rule a
second way.

Scale posture: every aggregation here is a single hash-shuffle on the group
keys with map-side partial aggregation (Catalyst plans partial+final
HashAggregate automatically); the trend rewrite replaces a join with a
window-function over the *already aggregated* (tiny) frame, so the expensive
input-sized shuffle happens exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import classify_sql, with_headquarters

# Deterministic synthetic coordinates derived from events columns, spanning
# both reference geofences (goldman lon≈-74.0144..-74.0138 lat≈40.7139..40.7152,
# citigroup lon≈-74.0121..-74.0099 lat≈40.7201..40.7217). Plain arithmetic so
# Spark and the DuckDB oracle evaluate bit-identically.
LON_SQL = "(-74.0150 + (value % 6.0) / 1000.0)"
# CAST to DOUBLE before dividing: without it Spark routes bigint/literal
# through decimal(20,0) arithmetic — measurably slower in the scan-side
# expression (and pointless; DuckDB evaluates the same text as double math).
LAT_SQL = "(40.7130 + CAST(user_id % 95 AS DOUBLE) / 10000.0)"


def window_counts(
    df: DataFrame,
    duration: str,
    *keys: str,
    slide: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """``window_start, *keys, cnt``: rows per event-time window of
    ``ts_col``, per key. ``slide=None`` is the tumbling window
    (``F.window`` with no slide); a slide gives overlapping windows. Batch
    and streaming queries share this one builder, so a twin runs the same
    aggregation.

    On a stream the state store keys on ``window.{start,end}, *keys`` and
    holds ``count``: neither the ``w`` alias nor ``cnt`` reaches it."""
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *keys, "cnt")
    )


def hourly_counts(events: DataFrame) -> DataFrame:
    """Trips per 1-hour tumbling event-time window (reference Task2.py:44-51)."""
    return window_counts(events, "1 hour")


def hourly_counts_by_key(events: DataFrame) -> DataFrame:
    """Per-key hourly windowed counts (reference Task3.py:84-89)."""
    return window_counts(events, "1 hour", "event_type")


def counts_10min_by_key(events: DataFrame) -> DataFrame:
    """Per-key 10-minute windowed counts (reference Task4.py:110-115)."""
    return window_counts(events, "10 minutes", "event_type")


def sliding_hourly_counts(events: DataFrame) -> DataFrame:
    """Sliding windows: 1-hour windows advancing every 15 minutes.

    Each event lands in duration/slide = 4 overlapping windows —
    ``F.window(ts, "1 hour", "15 minutes")`` expands to those windows
    JVM-side (no self-join, no explode in user code). Works identically
    as a streaming aggregation. The oracle reproduces the expansion with
    a 0..3 offset cross join off the 15-minute bucket.
    """
    return window_counts(events, "1 hour", "event_type", slide="15 minutes")


def hour_of_day_counts(events: DataFrame) -> DataFrame:
    """Counts keyed by hour-of-day — the reference's output-file key
    (``hour(window.end)``, reference Task2.py:51,60)."""
    return (
        events.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(F.count("*").alias("cnt"))
    )


# Trend detection (reference Task4 "trending arrivals"): a window whose count
# is >= MIN_COUNT and at least doubled vs the immediately preceding window of
# the same key (count - prev >= prev, reference Task4.py:127-131).
TREND_WINDOW = "6 hours"
TREND_WINDOW_SECONDS = 6 * 3600
TREND_MIN_COUNT = 10


def lag_trends(
    counts: DataFrame, key: str, window_seconds: int, min_count: int
) -> DataFrame:
    """The trend rule over a ``window_start, key, cnt`` frame, with
    ``prev_cnt`` added: keep a window whose count is ≥ ``min_count`` and
    at least twice that of the same key's window exactly
    ``window_seconds`` earlier. ``lag()`` over the aggregated frame stands
    in for the reference's self-join; callers choose their own columns."""
    w = Window.partitionBy(key).orderBy("window_start")
    return (
        counts.withColumn("prev_cnt", F.lag("cnt").over(w))
        .withColumn("prev_start", F.lag("window_start").over(w))
        .where(
            (F.col("cnt") >= min_count)
            & F.col("prev_cnt").isNotNull()
            # adjacency: previous row must be exactly one window earlier
            # (mirrors the self-join's ts - ts' == window equi-condition)
            & (
                F.col("window_start").cast("long") - F.col("prev_start").cast("long")
                == window_seconds
            )
            & (F.col("cnt") - F.col("prev_cnt") >= F.col("prev_cnt"))
        )
    )


def trending(events: DataFrame) -> DataFrame:
    """Idiomatic trend detection: lag() over the aggregated frame — no join.

    Equivalent to the reference's per-batch self-join (Task4.py:126-132) but
    runs as a window function over the *output* of the aggregation (a frame
    with one row per (window, key)), so at 100 TB the only input-sized
    shuffle is the aggregation itself; the lag is a cheap second shuffle of
    the already-reduced data.
    """
    counts = window_counts(events, TREND_WINDOW, "event_type")
    return lag_trends(
        counts, "event_type", TREND_WINDOW_SECONDS, TREND_MIN_COUNT
    ).select("event_type", "window_start", "cnt", "prev_cnt")


def trending_selfjoin(events: DataFrame) -> DataFrame:
    """Reference-shaped trend detection: aggregate joined to itself.

    Kept for parity with reference Task4.py:126-132 (the equi-part —
    same key, window exactly one period earlier — makes this a hash join;
    the count comparisons are theta residuals). Result is identical to
    :func:`trending`; tests assert it.
    """
    counts = window_counts(events, TREND_WINDOW, "event_type")
    cur, prev = counts.alias("cur"), counts.alias("prev")
    return (
        cur.join(
            prev,
            (F.col("cur.event_type") == F.col("prev.event_type"))
            & (
                F.col("cur.window_start").cast("long")
                - F.col("prev.window_start").cast("long")
                == TREND_WINDOW_SECONDS
            ),
            "inner",
        )
        .where(
            (F.col("cur.cnt") >= TREND_MIN_COUNT)
            & (F.col("cur.cnt") - F.col("prev.cnt") >= F.col("prev.cnt"))
        )
        .select(
            F.col("cur.event_type").alias("event_type"),
            F.col("cur.window_start").alias("window_start"),
            F.col("cur.cnt").alias("cnt"),
            F.col("prev.cnt").alias("prev_cnt"),
        )
    )


def funnel_view_click_purchase(events: DataFrame) -> DataFrame:
    """Ordered funnel: view → click (after the view) → purchase (after the
    click), counted per stage.

    The three stage timestamps are conditional window minima over the SAME
    partitioning (user_id), so the sequential Window nodes share one hash
    shuffle (executed plan: 2 exchanges total, the second being the final
    single-row agg) — no self-joins, no per-stage passes. The funnel
    enforces strict event ordering per user, not mere co-occurrence.
    """
    w = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    e = (
        events.select("user_id", "ts", "event_type")
        .withColumn("t_view", F.min(F.when(et == "view", ts)).over(w))
    )
    e = e.withColumn(
        "t_click",
        F.min(F.when((et == "click") & (ts > F.col("t_view")), ts)).over(w),
    )
    e = e.withColumn(
        "t_purchase",
        F.min(F.when((et == "purchase") & (ts > F.col("t_click")), ts)).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view_users"),
        F.count("t_click").alias("n_click_users"),
        F.count("t_purchase").alias("n_purchase_users"),
    )


#: per-step deadlines for the windowed funnel (minutes)
FUNNEL_CLICK_DEADLINE_MIN = 30
FUNNEL_PURCHASE_DEADLINE_MIN = 60


def funnel_with_deadlines(events: DataFrame) -> DataFrame:
    """The ordered funnel with PER-STEP DEADLINES — conversion only
    counts if the click lands within ``FUNNEL_CLICK_DEADLINE_MIN`` of
    the first view and the purchase within
    ``FUNNEL_PURCHASE_DEADLINE_MIN`` of that click. This is the form
    product analytics actually ships ("converted within 30 minutes"),
    and the deadline predicates drop straight into the same
    conditional-window-minima plan as ``funnel_view_click_purchase`` —
    still ONE user-hash shuffle shared by the three stacked windows, no
    self-joins, timestamps compared as raw event time (no float).
    """
    w = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    e = (
        events.select("user_id", "ts", "event_type")
        .withColumn("t_view", F.min(F.when(et == "view", ts)).over(w))
    )
    e = e.withColumn(
        "t_click",
        F.min(
            F.when(
                (et == "click")
                & (ts > F.col("t_view"))
                & (
                    ts
                    <= F.col("t_view")
                    + F.expr(f"INTERVAL {FUNNEL_CLICK_DEADLINE_MIN} MINUTES")
                ),
                ts,
            )
        ).over(w),
    )
    e = e.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (et == "purchase")
                & (ts > F.col("t_click"))
                & (
                    ts
                    <= F.col("t_click")
                    + F.expr(
                        f"INTERVAL {FUNNEL_PURCHASE_DEADLINE_MIN} MINUTES"
                    )
                ),
                ts,
            )
        ).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view_users"),
        F.count("t_click").alias("n_click_30m_users"),
        F.count("t_purchase").alias("n_purchase_60m_users"),
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct actives
    per day offset (0..7).

    First-seen is one groupBy(user); the join back is on the same key, so
    with AQE the second shuffle reuses the first's partitioning. The
    offset cap bounds output width regardless of the time span.
    """
    e = events.select("user_id", F.to_date("ts").alias("d"))
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(first_seen, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .where(F.col("day_offset") <= 7)
        .groupBy(
            # as yyyy-MM-dd text: Spark DateType and DuckDB DATE reach
            # pandas as different dtypes, so the comparable form is the
            # ISO string (also the natural partition-directory key).
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def with_coordinates(events: DataFrame) -> DataFrame:
    """Attach the deterministic synthetic (lon, lat) used by geofence queries."""
    return events.withColumn("lon", F.expr(LON_SQL)).withColumn("lat", F.expr(LAT_SQL))


def geofenced_events(events: DataFrame) -> DataFrame:
    """``events`` with its synthetic (lon, lat) and their ``headquarters``."""
    return with_headquarters(with_coordinates(events), "lon", "lat")


def geofence_counts(events: DataFrame) -> DataFrame:
    """Counts per geofence (reference Task3 semantics, per-window bug fixed).

    Classification runs as a generated Catalyst expression (ray-cast,
    :func:`..functions.geo.classify_sql`) — fully codegen'd, no Python
    workers in the hot path (contrast reference Task3.py:57-83).
    """
    return (
        geofenced_events(events)
        .groupBy("headquarters")
        .agg(F.count("*").alias("cnt"))
    )


def geofence_hourly_counts(events: DataFrame) -> DataFrame:
    """Per-geofence hourly windowed counts — the full Task3 pipeline
    (classify → window → count), with per-window-correct contents
    (fixes reference Task3.py:102-103, SURVEY.md §5.3)."""
    pts = geofenced_events(events)
    # filter 'none' AFTER the aggregation: a pre-agg filter makes Catalyst
    # inline the whole classify CASE into the scan filter AND the group key
    # (two evaluations per row); post-agg it runs once per row and the
    # filter touches only the tiny aggregated frame. (Streaming variant
    # keeps the pre-agg filter instead — there it bounds state size.)
    return window_counts(pts, "1 hour", "headquarters").where(
        F.col("headquarters") != "none"
    )


def _oracle_windowed_counts(duration_sql: str, key: str | None) -> str:
    keycols = f", {key}" if key else ""
    return (
        f"SELECT time_bucket(INTERVAL '{duration_sql}', ts) AS window_start"
        f"{keycols}, count(*) AS cnt FROM events GROUP BY ALL"
    )


_TREND_ORACLE = f"""
WITH c AS (
  SELECT time_bucket(INTERVAL '{TREND_WINDOW}', ts) AS window_start,
         event_type, count(*) AS cnt
  FROM events GROUP BY ALL
), t AS (
  SELECT event_type, window_start, cnt,
         lag(cnt) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_cnt,
         lag(window_start) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_start
  FROM c
)
SELECT event_type, window_start, cnt, prev_cnt FROM t
WHERE cnt >= {TREND_MIN_COUNT}
  AND prev_cnt IS NOT NULL
  AND epoch(window_start) - epoch(prev_start) = {TREND_WINDOW_SECONDS}
  AND cnt - prev_cnt >= prev_cnt
"""

_GEO_PTS = (
    f"SELECT *, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events"
)

ORACLES: dict[str, str] = {
    "hourly_counts": _oracle_windowed_counts("1 hour", None),
    "hourly_counts_by_key": _oracle_windowed_counts("1 hour", "event_type"),
    "counts_10min_by_key": _oracle_windowed_counts("10 minutes", "event_type"),
    "sliding_hourly_counts": """
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' AS window_start,
               event_type, count(*) AS cnt
        FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY ALL
    """,
    "hour_of_day_counts": (
        "SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day, count(*) AS cnt "
        "FROM events GROUP BY ALL"
    ),
    "funnel_with_deadlines": f"""
        WITH e AS (
          SELECT user_id, ts, event_type,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
          FROM events
        ), e2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                             AND ts <= t_view
                                 + INTERVAL {FUNNEL_CLICK_DEADLINE_MIN} MINUTE
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click
          FROM e
        ), e3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                             AND ts <= t_click
                                 + INTERVAL {FUNNEL_PURCHASE_DEADLINE_MIN}
                                   MINUTE
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS t_purchase
          FROM e2
        ), per_user AS (
          SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
                 max(t_purchase) AS t_purchase
          FROM e3 GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(t_view) AS n_view_users,
               count(t_click) AS n_click_30m_users,
               count(t_purchase) AS n_purchase_60m_users
        FROM per_user
    """,
    "funnel_view_click_purchase": """
        WITH e AS (
          SELECT user_id, ts, event_type,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
          FROM events
        ), e2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click
          FROM e
        ), e3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                             THEN ts END)
                      OVER (PARTITION BY user_id) AS t_purchase
          FROM e2
        ), per_user AS (
          SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
                 max(t_purchase) AS t_purchase
          FROM e3 GROUP BY user_id
        )
        SELECT count(t_view) AS n_view_users,
               count(t_click) AS n_click_users,
               count(t_purchase) AS n_purchase_users
        FROM per_user
    """,
    "retention_cohorts": """
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        fs AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(date_diff('day', cohort_day, d) AS INTEGER) AS day_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM e JOIN fs ON e.user_id = fs.user_id
        WHERE date_diff('day', cohort_day, d) <= 7
        GROUP BY ALL
    """,
    "trending": _TREND_ORACLE,
    "trending_selfjoin": _TREND_ORACLE,
    "geofence_counts": (
        f"WITH pts AS ({_GEO_PTS}) "
        f"SELECT {classify_sql('lon', 'lat')} AS headquarters, count(*) AS cnt "
        "FROM pts GROUP BY ALL"
    ),
    "geofence_hourly_counts": (
        f"WITH pts AS ({_GEO_PTS}), cls AS ("
        f"SELECT *, {classify_sql('lon', 'lat')} AS headquarters FROM pts) "
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, headquarters, "
        "count(*) AS cnt FROM cls WHERE headquarters != 'none' GROUP BY ALL"
    ),
}

QUERIES = {
    "hourly_counts": hourly_counts,
    "hourly_counts_by_key": hourly_counts_by_key,
    "counts_10min_by_key": counts_10min_by_key,
    "sliding_hourly_counts": sliding_hourly_counts,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "funnel_with_deadlines": funnel_with_deadlines,
    "retention_cohorts": retention_cohorts,
    "hour_of_day_counts": hour_of_day_counts,
    "trending": trending,
    "trending_selfjoin": trending_selfjoin,
    "geofence_counts": geofence_counts,
    "geofence_hourly_counts": geofence_hourly_counts,
}
