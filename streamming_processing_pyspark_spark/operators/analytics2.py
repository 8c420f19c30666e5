"""Scale-pattern analytics: exact mergeable distinct counts, ordered path
aggregation, exact-moment correlation, histograms, and skew-salted joins.

Extends the reference's aggregation surface (SURVEY.md §2.5 — the reference
has only windowed counts, `Task2.py:44-50`, `Task3.py:84-89`) with the
aggregate shapes a 100 TB profiling / feature pipeline needs. Every query
keeps the reduction map-side-combinable so the shuffle payload is the
(small) aggregate state, never the input:

- ``bitmap_distinct_users`` — EXACT distinct counting whose shuffle payload
  is a fixed-size bitmap per (group, bucket), mergeable across partitions /
  days / clusters like a sketch but with no error (Spark 3.5+ ``bitmap_*``).
- ``user_event_paths`` — per-key ordered event-path strings via
  ``listagg WITHIN GROUP`` (single sort-shuffle on the group key).
- ``corr_qty_price_by_flag`` — Pearson correlation from exact int64/decimal
  moment sums (one float division + sqrt at the end), so distributed
  summation order cannot perturb the result: bit-exact vs the oracle and
  run-to-run deterministic on any cluster size.
- ``value_histogram`` — fixed-width value histogram per event type
  (two-level groupBy, both map-side combinable).
- ``salted_customer_join`` — the skew-join pattern: 150 distinct user_ids
  fan 100k+ events onto hot keys; the build side is replicated across
  ``N_SALT`` sub-keys and the probe side salted deterministically, so no
  single reducer owns a hot key. Result provably equals the plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: decimal type wide enough that all moment sums below stay exact
_D = "decimal(18,0)"

N_SALT = 8
HIST_BIN_WIDTH = 50.0


def bitmap_distinct_users(tables: dict[str, DataFrame]) -> DataFrame:
    """Exact distinct users per event type via bitmap aggregation.

    Phase 1 groups on (event_type, bucket) — each bucket covers 2^15 ids —
    and ORs ids into a fixed-size bitmap; phase 2 sums per-bucket
    cardinalities. Unlike ``count(distinct)`` (which Spark plans as an
    Expand + re-shuffle of every distinct value), the shuffle payload here
    is one bitmap per (group, bucket, partition) regardless of row count,
    and bitmaps merge associatively — the exact-count analogue of the HLL
    sketch path (``events_analytics.hll_user_sketches``).
    """
    ev = tables["events"]
    per_bucket = (
        ev.groupBy("event_type", F.bitmap_bucket_number("user_id").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_users")
    )


def user_event_paths(tables: dict[str, DataFrame]) -> DataFrame:
    """Each user's full event-type path in (ts, event_id) order.

    ``listagg(...) WITHIN GROUP (ORDER BY ts, event_id)`` — the ordered
    string aggregation a clickstream/path-analysis pipeline exports.
    event_id breaks timestamp ties so both engines produce the identical
    string. One sort-shuffle on user_id; path length is bounded by events
    per user, not table size.
    """
    ev = tables["events"]
    return ev.groupBy("user_id").agg(
        F.expr(
            "listagg(event_type, '->') WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("path"),
        F.count("*").alias("n_events"),
    )


def corr_qty_price_by_flag(tables: dict[str, DataFrame]) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag.

    Computed from EXACT moment sums — quantity as integer, price scaled to
    integer cents, all five sums in decimal(18,0) (wide enough that every
    sum is exact at any SF) — with a single double division/sqrt at the
    end. Engine-native ``corr()`` accumulates doubles whose summation order
    varies per partitioning; this form is bit-exact vs DuckDB and
    deterministic on 1 or 1000 executors. One map-side-combined shuffle.
    """
    li = tables["lineitem"]
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").cast(_D).alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").cast(_D).alias("v"),
    )
    s = base.groupBy("l_returnflag").agg(
        F.count("*").cast(_D).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("v").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("v")).alias("sxy"),
        F.sum(F.col("v") * F.col("v")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select("l_returnflag", (num / den).alias("corr_qty_price"))


def value_histogram(tables: dict[str, DataFrame]) -> DataFrame:
    """Fixed-width histogram of ``value`` per event type (bin width 50).

    The data-profiling primitive: bin id is ``floor(value / width)`` (IEEE
    division + floor, identical in both engines), counts are map-side
    combined, output is ≤ |types| × |bins| rows no matter the input size.
    """
    ev = tables["events"]
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(HIST_BIN_WIDTH)).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def salted_customer_join(tables: dict[str, DataFrame]) -> DataFrame:
    """Events joined to customers with hot-key salting, rolled up by market
    segment (event count + exact value cents).

    The probe side is extremely skewed — every one of 100k+ events lands on
    one of only 150 customer keys, so a vanilla shuffle join puts entire
    hot keys on single reducers. Salting: the build (customer) side is
    replicated across ``N_SALT`` sub-keys via posexplode of a literal
    array; the probe side picks its replica deterministically
    (``xxhash64(event_id) mod N_SALT`` — no RNG, so re-runs and task
    retries agree). Join key becomes (key, salt) → each hot key spreads
    over ``N_SALT`` reducers. The rollup is identical to the plain join's
    (asserted in tests); AQE's skew-join split is the automatic variant,
    this is the explicit one that also works mid-pipeline where AQE can't
    re-split (e.g. under a streaming sink).
    """
    ev, cust = tables["events"], tables["customer"]
    salted_dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])).alias("salt"),
    )
    salted_fact = ev.select(
        "user_id",
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).cast("int").alias("salt"),
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.user_id == salted_dim.c_custkey)
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_cents"),
    )


def user_scd2_intervals(tables: dict[str, DataFrame]) -> DataFrame:
    """Type-2 slowly-changing dimension build from the event log: each
    user's event_type treated as a changing attribute, collapsed into
    validity intervals [valid_from, valid_to) with an is_current flag —
    the standard warehouse dimension-history pattern (gaps-and-islands).

    Two stacked window functions over ONE (user_id, ts, event_id) sort:
    a lag marks rows where the state actually changed (consecutive
    duplicates collapse), then a lead over the change rows supplies each
    interval's end. event_id breaks timestamp ties so both engines build
    identical intervals. One shuffle; per-user history is bounded by that
    user's event count, not the table.
    """
    ev = tables["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


#: MERGE-upsert source derivation: every 7th key is updated (+5% price),
#: keys ≡ 3 (mod 11) spawn an insert with a shifted key
MERGE_UPDATE_MOD = 7
MERGE_INSERT_MOD = 11
MERGE_KEY_OFFSET = 1_000_000_000


def merge_upsert_orders(tables: dict[str, DataFrame]) -> DataFrame:
    """``MERGE INTO`` (upsert) semantics at the engine level: a change
    set — updates (+5 % price, derived as every ``MERGE_UPDATE_MOD``-th
    order) and inserts (new keys offset by ``MERGE_KEY_OFFSET``) — is
    applied to the orders table as ONE full-outer join on the key with
    coalesce-based column resolution: matched → source wins, unmatched
    target → row kept, unmatched source → row inserted. This is exactly
    the join MERGE compiles to in lakehouse engines; with a real table
    format (Delta/Iceberg, whose connector jars this build does not
    ship) the same change set feeds ``MERGE INTO``, which additionally
    prunes untouched files. Bucketing both sides on the key makes the join
    shuffle-free on repeated merges.

    All money is integer cents (+5 % as ``cents DIV 20``), so the
    summary — rows and total cents per merge action — hash-matches
    exactly. Output: 3 rows (inserted / untouched / updated).
    """
    o = tables["orders"].select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    upd = o.where(F.col("k") % MERGE_UPDATE_MOD == 0).select(
        "k",
        (F.col("cents") + F.expr("cents DIV 20")).alias("new_cents"),
        F.lit("updated").alias("action"),
    )
    ins = o.where(F.col("k") % MERGE_INSERT_MOD == 3).select(
        (F.col("k") + MERGE_KEY_OFFSET).alias("k"),
        F.col("cents").alias("new_cents"),
        F.lit("inserted").alias("action"),
    )
    src = upd.unionByName(ins)
    merged = o.join(src, "k", "full_outer").select(
        "k",
        F.coalesce("new_cents", "cents").alias("cents"),
        F.coalesce("action", F.lit("untouched")).alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("total_cents"),
    )


#: band half-width for the ε-band self-join, in integer cents
BAND_EPS_CENTS = 25


def value_band_pairs(tables: dict[str, DataFrame]) -> DataFrame:
    """ε-band fact-to-fact join WITHOUT the cross product: (view, click)
    event pairs by the same user whose values differ by ≤ ε — the
    "match nearby measurements" theta-join a naive plan executes as a
    per-user cartesian (or, unkeyed, as BroadcastNestedLoopJoin).

    The band trick makes it an EQUI-join Catalyst can hash-partition:
    bucket values at width ε (integer cents, `v DIV ε` — both engines
    truncate identically on non-negatives), explode the probe side to
    buckets {b−1, b, b+1}, equi-join on (user_id, bucket), then apply
    the exact |Δ| ≤ ε filter. Every qualifying pair appears exactly
    once (the build row's bucket equals exactly one of the three
    probes), candidate volume is ∝ per-(user, bucket) density — data
    dependent, never O(n²) — and the shuffle is a plain hash exchange
    on the pair key. This is the fact-fact complement of
    ``range_join_value_buckets`` (band join against a broadcast dim).

    Output per user: ``n_band_pairs``, ``min_diff_cents``,
    ``sum_diff_cents`` (sum of |Δ|).
    """
    ev = tables["events"].select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    bucket0 = F.expr(f"v DIV {BAND_EPS_CENTS}")
    probe = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("v").alias("va"),
        F.explode(
            F.array(bucket0 - 1, bucket0, bucket0 + 1)
        ).alias("bucket"),
    )
    build = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("v").alias("vb"),
        bucket0.alias("bucket"),
    )
    pairs = probe.join(build, ["user_id", "bucket"]).where(
        F.abs(F.col("va") - F.col("vb")) <= BAND_EPS_CENTS
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_band_pairs"),
        F.min(F.abs(F.col("va") - F.col("vb"))).alias("min_diff_cents"),
        F.sum(F.abs(F.col("va") - F.col("vb"))).alias("sum_diff_cents"),
    )


QUERIES = {
    "bitmap_distinct_users": bitmap_distinct_users,
    "value_band_pairs": value_band_pairs,
    "merge_upsert_orders": merge_upsert_orders,
    "user_event_paths": user_event_paths,
    "corr_qty_price_by_flag": corr_qty_price_by_flag,
    "value_histogram": value_histogram,
    "salted_customer_join": salted_customer_join,
    "user_scd2_intervals": user_scd2_intervals,
}

ORACLES: dict[str, str] = {
    "user_scd2_intervals": """
        WITH marked AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER w AS prev_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
          SELECT user_id, event_type, ts, event_id FROM marked
          WHERE prev_type IS NULL OR event_type != prev_type
        )
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER w2 AS valid_to,
               lead(ts) OVER w2 IS NULL AS is_current
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "bitmap_distinct_users": """
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """,
    "user_event_paths": """
        SELECT user_id,
               string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """,
    "corr_qty_price_by_flag": """
        WITH base AS (
          SELECT l_returnflag,
                 CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(18,0)) AS x,
                 CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      AS DECIMAL(18,0)) AS v
          FROM lineitem
        ), s AS (
          SELECT l_returnflag, CAST(count(*) AS DECIMAL(18,0)) AS n,
                 sum(x) AS sx, sum(v) AS sy,
                 sum(x * x) AS sxx, sum(x * v) AS sxy, sum(v * v) AS syy
          FROM base GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_price
        FROM s
    """,
    "merge_upsert_orders": f"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders
        ),
        src AS (
          SELECT k, cents + cents // 20 AS new_cents,
                 'updated' AS action
          FROM o WHERE k % {MERGE_UPDATE_MOD} = 0
          UNION ALL
          SELECT k + {MERGE_KEY_OFFSET} AS k, cents AS new_cents,
                 'inserted' AS action
          FROM o WHERE k % {MERGE_INSERT_MOD} = 3
        ),
        merged AS (
          SELECT coalesce(s.new_cents, o.cents) AS cents,
                 coalesce(s.action, 'untouched') AS action
          FROM o FULL OUTER JOIN src s USING (k)
        )
        SELECT action, count(*) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM merged GROUP BY action
    """,
    "value_band_pairs": f"""
        WITH ev AS (
          SELECT user_id, event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS v
          FROM events
        )
        SELECT a.user_id,
               count(*) AS n_band_pairs,
               min(abs(a.v - b.v)) AS min_diff_cents,
               CAST(sum(abs(a.v - b.v)) AS BIGINT) AS sum_diff_cents
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'click'
         AND abs(a.v - b.v) <= {BAND_EPS_CENTS}
        GROUP BY a.user_id
    """,
    "value_histogram": """
        SELECT event_type,
               CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS cnt
        FROM events GROUP BY ALL
    """,
    "salted_customer_join": """
        SELECT c_mktsegment, count(*) AS n_events,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
}
