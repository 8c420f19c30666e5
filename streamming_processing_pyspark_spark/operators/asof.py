"""As-of (point-in-time) join — an operator Spark lacks natively.

:func:`asof_join_window` is ONE window over the tagged union of both
sides: a single exchange on the key, fully JVM-side, tie-break folded
into the window ordering.

The DuckDB oracle uses its native ``ASOF JOIN``. To keep both engines
deterministic the oracle deduplicates the right side to one row per
(key, time) — max o_orderkey wins — since as-of tie-breaking between
equal timestamps is otherwise engine-defined; the window form encodes the
same tie-break in its ordering instead of a separate dedup pass. A
brute-force Python as-of pins the tie-break on random inputs
(tests/test_property.py::test_asof_window_matches_python_reimpl).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Tables = dict[str, DataFrame]

def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
    right_tiebreak: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join as ONE window over the tagged union of both sides — the
    sort-merge formulation, all JVM-side.

    Both sides are projected to a common schema (each side's absent
    columns null), tagged (right=0, left=1) and unioned; a single
    ``last(..., ignorenulls=True)`` window per right payload column,
    partitioned by the key and ordered by ``(time, tag, tiebreak)``,
    carries the latest right row forward onto every left row; left rows
    with a match survive. Ordering encodes the semantics: at equal
    timestamps right sorts before left (inclusive ``right_time <=
    left_time``), and among equal-time right rows the greatest
    ``right_tiebreak`` sorts last and wins — so the one-row-per-(key,time)
    dedup needs NO separate shuffle here.

    Plan shape: scan+scan → union → ONE hash exchange on the key →
    per-partition sort → window → filter: 1 exchange, inside whole-stage
    codegen — the right shape for a 100 TB fact stream. Skewed keys sort
    within one partition; the window is linear per partition.

    ``direction="forward"`` flips the scan to time-DESCENDING, giving
    the NEAREST right row at-or-after the left time (inclusive
    ``right_time >= left_time``); the tie-break inverts with it, so
    among equal-time right rows the SMALLEST ``right_tiebreak`` wins —
    the deterministic "next event" choice.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    tag = "_is_left"
    left_cols = [c for c in left.columns]
    # the right payload travels as ONE nullable struct column: carrying
    # each payload column through its own last(ignorenulls) would stitch
    # together values from DIFFERENT right rows whenever a payload column
    # is NULL (and would mis-drop matches on a NULL leading column); a
    # struct is non-null for every right row regardless of its fields, so
    # last(struct) always carries exactly one right row, and struct
    # non-nullness is the match marker
    r_struct = F.struct(*[F.col(c) for c in right_cols]).alias("_r")
    l_proj = left.select(
        *left_cols,
        F.col(left_time).alias("_t"),
        F.lit(None)
        .cast(
            "struct<"
            + ", ".join(
                f"{c}: {right.schema[c].dataType.simpleString()}"
                for c in right_cols
            )
            + ">"
        )
        .alias("_r"),
        F.lit(None).cast(right.schema[right_tiebreak].dataType).alias("_tb"),
        F.lit(1).alias(tag),
    )
    r_proj = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c != key
        ],
        F.col(key),
        F.col(right_time).alias("_t"),
        r_struct,
        F.col(right_tiebreak).alias("_tb"),
        F.lit(0).alias(tag),
    )
    order = (
        [F.asc("_t"), F.asc(tag), F.asc("_tb")]
        if direction == "backward"
        else [F.desc("_t"), F.asc(tag), F.desc("_tb")]
    )
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_proj.unionByName(r_proj).select(
        *left_cols,
        tag,
        F.last("_r", ignorenulls=True).over(w).alias("_r"),
    )
    return carried.where(
        (F.col(tag) == 1) & F.col("_r").isNotNull()
    ).select(*left_cols, *[F.col(f"_r.{c}").alias(c) for c in right_cols])


def asof_latest_order(t: Tables) -> DataFrame:
    """Each event joined to the user's most recent order at event time.

    Runs the single-shuffle :func:`asof_join_window` plan. The
    max-orderkey tie-break at equal (user, date) is expressed in the
    window ordering, so no pre-dedup shuffle is needed."""
    ev = t["events"].select("event_id", "user_id", "ts")
    orders = t["orders"].select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    return asof_join_window(
        ev,
        orders,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
    )


def asof_next_event(t: Tables) -> DataFrame:
    """Forward as-of: each order joined to the customer's NEXT site event
    at or after the order date — the "time to next engagement" join,
    symmetric to :func:`asof_latest_order` and running the same
    single-shuffle window-over-union plan with the scan direction
    flipped (the datasets put orders before events, so this direction is
    the populated one). Tie at equal timestamps resolves to the smallest
    event_id (deterministic in both engines)."""
    orders = t["orders"].select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    ev = t["events"].select("user_id", "event_id", "ts")
    return asof_join_window(
        orders,
        ev,
        key="user_id",
        left_time="o_orderdate",
        right_time="ts",
        right_cols=["event_id", "ts"],
        right_tiebreak="event_id",
        direction="forward",
    )


ORACLES: dict[str, str] = {
    "asof_next_event": """
        WITH e AS (
          SELECT user_id, ts, event_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (
                     PARTITION BY user_id, ts ORDER BY event_id
                   ) AS rn
            FROM events
          ) WHERE rn = 1
        )
        SELECT o.o_orderkey, o.o_custkey AS user_id, o.o_orderdate,
               e.event_id, e.ts
        FROM orders o
        ASOF JOIN e ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    """,
    "asof_latest_order": """
        WITH o AS (
          SELECT o_custkey, o_orderdate, o_orderkey FROM (
            SELECT o_custkey, o_orderdate, o_orderkey,
                   row_number() OVER (
                     PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC
                   ) AS rn
            FROM orders
          ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
        FROM events e
        ASOF JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
}

QUERIES = {
    "asof_latest_order": asof_latest_order,
    "asof_next_event": asof_next_event,
}
