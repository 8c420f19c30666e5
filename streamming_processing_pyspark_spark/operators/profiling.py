"""Data-profiling operators: single-pass column statistics and mergeable
per-key argmax.

The data-quality layer a 100 TB ingest runs before anything else. The
reference has no profiling surface at all (SURVEY.md §2.10); these fill
that gap with shapes that stay cheap at scale:

- ``events_column_profile`` — null counts, distinct counts, min/max for
  every column of ``events`` in ONE scan (a single multi-aggregate pass,
  unpivoted to one row per column via ``stack``). At 100 TB this is the
  difference between one job and |columns| jobs.
- ``top_event_by_value_per_user`` — per-key argmax via ``max_by`` over a
  composite integer rank: a plain map-side-combinable aggregation (one
  shuffle of one row per key), NOT a sort window. Ties break on event_id
  so the winner is unique and both engines agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD
from .distribution import exact_cuts

#: value in cents ≤ ~50k, event_id < 1e6 at any test SF → composite fits
#: int64 with room to spare (cents * 1e9 + id < 5e13, double-exact too).
_RANK_SCALE = 1_000_000_000


def events_column_profile(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-column profile of ``events`` — one row per column with row
    count, null count, exact distinct count, and min/max.

    Min/max are computed on the NATIVE type (numeric order, not string
    order) and rendered afterwards to engine-neutral strings: integers
    plainly, ``value`` as integer cents, timestamps as ISO seconds.
    Single pass: one ``agg`` computes every statistic (Catalyst plans the
    multi-distinct via one Expand — the same strategy DuckDB uses), then
    the 1-row frame is unpivoted driver-free with ``stack``. The scan is
    the only input-sized stage regardless of column count.
    """
    cents = F.round(F.col("value") * 100, 0).cast("long")
    specs = {
        "event_id": (F.col("event_id"), lambda c: c.cast("string")),
        "user_id": (F.col("user_id"), lambda c: c.cast("string")),
        "event_type": (F.col("event_type"), lambda c: c),
        "value_cents": (cents, lambda c: c.cast("string")),
        "ts": (F.col("ts"), lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")),
    }
    aggs = [F.count("*").alias("n_rows")]
    for name, (col, render) in specs.items():
        aggs += [
            F.count(col).alias(f"{name}__nn"),
            F.count_distinct(col).alias(f"{name}__nd"),
            render(F.min(col)).alias(f"{name}__min"),
            render(F.max(col)).alias(f"{name}__max"),
        ]
    one = tables["events"].agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', {name}__nn, {name}__nd, {name}__min, {name}__max"
        for name in specs
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(specs)}, {stack_args}) AS "
            "(column, n_non_null, n_distinct, min_value, max_value)"
        ),
    ).select(
        "column",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def top_event_by_value_per_user(tables: dict[str, DataFrame]) -> DataFrame:
    """Each user's highest-value event (type + value in cents) via
    ``max_by`` over a composite integer rank (cents ⊕ event_id).

    The aggregation-based argmax: one map-side-combinable shuffle carrying
    one row per key — contrast with the window-rank form
    (``relational.top_parts_per_brand``) which must sort every row. At
    100 TB the agg form wins whenever k=1 per key. The composite rank
    makes the winner unique (event_id tiebreak), so results are
    deterministic and engine-portable.
    """
    ev = tables["events"]
    rank = (
        F.round(F.col("value") * 100, 0).cast("long") * F.lit(_RANK_SCALE)
        + F.col("event_id")
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", rank).alias("top_event_type"),
        (F.max(rank) / F.lit(_RANK_SCALE)).cast("long").alias("top_value_cents"),
    )


#: (constraint name, threshold in basis points). Observed values are
#: integer basis points (10000·passing div rows — exact int64 arithmetic,
#: no float rounding to disagree on), so the report hash-matches the
#: oracle bit-for-bit.
DQ_THRESHOLDS_BP = (
    ("completeness_event_id", 10000),
    ("uniqueness_event_id", 10000),
    ("completeness_ts", 10000),
    ("completeness_user_id", 10000),
    ("value_non_negative", 9900),
    ("event_type_known", 10000),
)

#: the event-type domain the ingest contract allows
DQ_KNOWN_TYPES = ("view", "click", "purchase", "signup", "error")


def data_quality_checks(tables: dict[str, DataFrame]) -> DataFrame:
    """Deequ-style constraint report over ``events`` in ONE scan.

    Each row is a named constraint with its observed pass rate (integer
    basis points), its threshold, and a pass flag — the gate a 100 TB
    ingest evaluates before promoting a drop. All constraints share a
    single multi-aggregate pass (completeness, uniqueness, domain and
    range checks all reduce to counts), then a ``stack`` unpivot emits the
    report rows — the scan is the only input-sized stage no matter how
    many constraints are registered. Thresholds live in
    ``DQ_THRESHOLDS_BP``; uniqueness is distinct/total, completeness is
    non-null/total, domain is in-set/total.
    """
    ev = tables["events"]
    one = ev.agg(
        F.count("*").alias("n"),
        F.count("event_id").alias("nn_id"),
        F.count_distinct("event_id").alias("nd_id"),
        F.count("ts").alias("nn_ts"),
        F.count("user_id").alias("nn_user"),
        F.sum(F.when(F.col("value") >= 0, 1).otherwise(0)).alias("nonneg"),
        F.sum(
            F.when(F.col("event_type").isin(*DQ_KNOWN_TYPES), 1).otherwise(0)
        ).alias("known"),
    )
    bp = {
        "completeness_event_id": "10000 * nn_id div n",
        "uniqueness_event_id": "10000 * nd_id div n",
        "completeness_ts": "10000 * nn_ts div n",
        "completeness_user_id": "10000 * nn_user div n",
        "value_non_negative": "10000 * nonneg div n",
        "event_type_known": "10000 * known div n",
    }
    stack_args = ", ".join(
        f"'{name}', {bp[name]}, CAST({thr} AS BIGINT)"
        for name, thr in DQ_THRESHOLDS_BP
    )
    return one.select(
        F.expr(
            f"stack({len(DQ_THRESHOLDS_BP)}, {stack_args}) AS "
            "(constraint, observed_bp, threshold_bp)"
        )
    ).select(
        "constraint",
        "observed_bp",
        "threshold_bp",
        (F.col("observed_bp") >= F.col("threshold_bp")).alias("passed"),
    )


def _dq_row(name: str, expr: str, thr: int) -> str:
    return f"""
          SELECT '{name}' AS constraint, {expr} AS observed_bp,
                 CAST({thr} AS BIGINT) AS threshold_bp,
                 {expr} >= {thr} AS passed
          FROM one"""


def _profile_row(col: str, nn: str, nd: str, mn: str, mx: str) -> str:
    return f"""
          SELECT '{col}' AS "column", n_rows, n_rows - {nn} AS n_nulls,
                 {nd} AS n_distinct, {mn} AS min_value, {mx} AS max_value
          FROM one"""


def value_drift_ks(tables: dict[str, DataFrame]) -> DataFrame:
    """Distribution-drift monitor: two-sample Kolmogorov–Smirnov statistic
    between the event ``value`` distributions of the first and second
    halves of the time range — the pipeline-health check that catches a
    silently changed upstream (new client version, schema default flip,
    unit change) before it poisons training data.

    All-integer formulation so the statistic itself is oracle-hashed:
    values bucket to cents (``floor(value·100)``), the two halves reduce
    to ONE conditional-sum histogram (single map-combinable shuffle of
    |distinct cents| rows), CDFs are cumulative sums over that histogram,
    and the sup-distance is cross-multiplied —
    ``max |cum1·n2 − cum2·n1|`` — then reported in basis points as
    ``ks_num·10000 div (n1·n2)``. No floats anywhere after bucketing, so
    both engines agree exactly. The only input-sized stage is the
    histogram aggregation: the same exact-quantile-shaped plan as
    perplexity_buckets, fine at 100 TB.
    """
    from pyspark.sql import Window

    ev = tables["events"]
    # integer microseconds on both engines (unix_micros ↔ epoch_us), so
    # the midpoint split is identical row-for-row
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    # drop NULL values explicitly: the two engines disagree on NULL
    # placement in ORDER BY (Spark NULLS FIRST, DuckDB NULLS LAST), so a
    # NULL bucket would silently shift both CDFs
    half = (
        ev.where(F.col("value").isNotNull())
        .join(F.broadcast(bounds))
        .select(
            F.floor(F.col("value") * 100).cast("long").alias("v_c"),
            (F.unix_micros("ts") * 2 < F.col("t0") + F.col("t1")).alias(
                "first_half"
            ),
        )
    )
    hist = half.groupBy("v_c").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("c2"),
    )
    w = Window.orderBy("v_c").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    return cum.agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))).alias(
            "ks_num"
        ),
        F.max("n1").alias("n_first"),
        F.max("n2").alias("n_second"),
    ).select(
        "n_first",
        "n_second",
        # zero guard: if every non-null value lands in one time-half (a
        # column that starts being populated mid-stream), n_first or
        # n_second is 0 and ANSI mode would raise DIVIDE_BY_ZERO — report
        # NULL ("no comparison possible") instead of crashing the monitor
        F.expr(
            "CASE WHEN n_first * n_second > 0"
            " THEN ks_num * 10000 DIV (n_first * n_second) END"
        ).alias("ks_bp"),
    )


#: PSI bucket count (deciles of the FIRST half — the "expected" side)
PSI_BUCKETS = 10


def psi_value_drift(tables: dict[str, DataFrame]) -> DataFrame:
    """Population Stability Index between the first and second time-half
    of ``value`` — the bucketed drift metric ML monitoring reports next
    to KS (rule of thumb: PSI > 0.2 → investigate). Buckets are the
    first half's own deciles, so the statistic asks "how far has the
    incoming distribution moved relative to the reference's quantile
    grid" — robust to scale/outliers in a way equal-width bins are not.

    Shape: the SAME single conditional-sum histogram as
    :func:`value_drift_ks` (one map-combinable shuffle of |distinct
    cents| rows) → decile edges from :func:`distribution.exact_cuts` of
    the first half's counts (no global sort) → bucket the histogram rows (not
    the raw rows) against the broadcast 9-edge array → 10 add-one-
    smoothed terms. Each term's log is ONE ``ln`` of an exact integer
    rational and the 10 terms fold in bucket order (collect→sort→
    aggregate, ``list(... ORDER BY)`` in DuckDB), so cross-engine
    divergence is the documented ≤1-ulp libm class; the emitted value is
    floored to micro-units to keep that class away from the hash. NULL
    (not a crash) when either half is empty, matching the KS guard.
    """
    from pyspark.sql import Window

    ev = tables["events"]
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    half = (
        ev.where(F.col("value").isNotNull())
        .join(F.broadcast(bounds))
        .select(
            F.floor(F.col("value") * 100).cast("long").alias("v_c"),
            (F.unix_micros("ts") * 2 < F.col("t0") + F.col("t1")).alias(
                "first_half"
            ),
        )
    )
    from ..tables import persist_replacing

    # |distinct cents| rows; persisted because BOTH the decile-edge
    # branch and the bucketing branch consume it — unpinned, each re-runs
    # the corpus histogram scan (plan audit showed 4 events scans)
    hist = persist_replacing(
        half.groupBy("v_c").agg(
            F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("c2"),
        ),
        "psi_hist",
    )
    w_all = Window.partitionBy()
    edges = exact_cuts(
        hist, "v_c", "c1", {f"e{j}": (j, PSI_BUCKETS) for j in range(1, PSI_BUCKETS)}
    )
    edge_arr = "array(" + ", ".join(f"e{j}" for j in range(1, PSI_BUCKETS)) + ")"
    bucketed = (
        hist.crossJoin(F.broadcast(edges))
        .select(
            F.expr(f"size(filter({edge_arr}, e -> v_c > e))").alias("bucket"),
            "c1",
            "c2",
        )
        .groupBy("bucket")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    terms = bucketed.select(
        "bucket",
        "c1",
        "c2",
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    ).select(
        "bucket",
        "n1",
        "n2",
        (
            (
                (F.col("c1") + 1) / (F.col("n1") + PSI_BUCKETS)
                - (F.col("c2") + 1) / (F.col("n2") + PSI_BUCKETS)
            )
            * F.log(
                ((F.col("c1") + 1) * (F.col("n2") + PSI_BUCKETS))
                / ((F.col("c2") + 1) * (F.col("n1") + PSI_BUCKETS))
            )
        ).alias("term"),
    )
    return (
        terms.groupBy()
        .agg(
            F.max("n1").alias("n_first"),
            F.max("n2").alias("n_second"),
            F.array_sort(F.collect_list(F.struct("bucket", "term"))).alias("parts"),
        )
        .select(
            "n_first",
            "n_second",
            F.expr(
                "CASE WHEN n_first * n_second > 0 THEN"
                " CAST(floor(1000000 * aggregate(parts, CAST(0.0 AS DOUBLE),"
                " (a, x) -> a + x.term)) AS BIGINT) END"
            ).alias("psi_micro"),
        )
    )


#: winsorization percentile bounds (percent)
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def value_winsorize(tables: dict[str, DataFrame]) -> DataFrame:
    """Outlier clipping (winsorization) of ``value`` at the exact
    per-event-type 5th/95th percentiles — the feature-preprocessing step
    that stops heavy-tailed values from dominating normalization, done
    WITHOUT a global sort: per-(type, cent) histogram →
    :func:`distribution.exact_cuts` thresholds → broadcast back →
    map-side clip. Thresholds use integer cross-multiplication
    (``100·cum ≥ p·n``) and values bucket to cents, so the clipped output
    hash-matches the oracle. NULL values are dropped explicitly (the
    engines disagree on NULL sort placement).
    """
    ev = tables["events"].where(F.col("value").isNotNull())
    d = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_c"),
    )
    hist = d.groupBy("event_type", "v_c").agg(F.count("*").alias("cnt"))
    cuts = {"lo_c": (WINSOR_LO_PCT, 100), "hi_c": (WINSOR_HI_PCT, 100)}
    th = exact_cuts(hist, "v_c", "cnt", cuts, "event_type")
    return d.join(F.broadcast(th), "event_type").select(
        "event_id",
        "event_type",
        "v_c",
        F.least(F.greatest(F.col("v_c"), F.col("lo_c")), F.col("hi_c")).alias(
            "clipped_c"
        ),
    )


#: Bloom prefilter sizing: m bits packed into m/64 BIGINT words. At the
#: test SF the dim side is ~300 keys → k=3, m=16384 gives fp ≈ 2e-4; the
#: words frame is ≤ 2 KB broadcast. At 100 TB the same shape holds with
#: m sized to the dim-side cardinality (the words array is m/64 longs —
#: 16 MB covers a billion-key dim at 1% fp).
BLOOM_BITS = 16_384
#: independent affine probe hashes (multiplicative-congruential family,
#: cf. mixing.GATE_A: uniform on integer keys, portable to the oracle)
BLOOM_SEEDS = (
    (736_338_717, 198_491_317),
    (613_651_349, 87_178_291),
    (297_521_401, 514_229_077),
)
#: dim-side predicate for the check query
BLOOM_SEGMENT = "BUILDING"


def _bloom_positions(key_sql: str) -> list[str]:
    """The k probe-bit positions of an integer key, as SQL expressions
    portable to DuckDB (all intermediates < 10^18, BIGINT-safe)."""
    return [
        f"((({key_sql}) % {HASH_MOD}) * {a} + {b}) % {HASH_MOD} % {BLOOM_BITS}"
        for a, b in BLOOM_SEEDS
    ]


def bloom_prefilter_check(tables: dict[str, DataFrame]) -> DataFrame:
    """Runtime-filter join pruning, measured: build a Bloom filter from
    the dim side (customers in one market segment) and probe every fact
    row (orders) BEFORE the join — the semi-join pushdown that at 100 TB
    turns a full fact shuffle into a scan-side drop of the ~80% of rows
    that cannot match. Spark's own AQE injects this shape invisibly
    (spark.sql.optimizer.runtime.bloomFilter.enabled); this operator is
    the explicit, measurable form.

    The filter is m bits packed into m/64 BIGINT words (``bit_or`` of
    per-position masks → one map<widx,word> row, broadcast); membership
    is k pure-SQL bit probes — no Python, no UDF. Because the probe
    hashes are the portable multiplicative family, DuckDB rebuilds the
    IDENTICAL bit set, so the contract row hash-matches on real numbers:
    fact count, true-match count, bloom-pass count, false negatives
    (must be 0 — Blooms have none), and the realized false-positive rate
    in basis points of the true non-matches.
    """
    dim = (
        tables["customer"]
        .where(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
    )
    positions = dim.select(
        F.explode(
            F.array(*[F.expr(p).cast("long") for p in _bloom_positions("c_custkey")])
        ).alias("pos")
    ).distinct()
    bloom = (
        positions.select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("widx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(mask)").alias("w"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("widx", "w"))).alias("bmap")
        )
    )
    # one bit-test per probe: arithmetic >> keeps bit b at the low end
    pass_expr = " AND ".join(
        f"(shiftright(coalesce(element_at(bmap, CAST(({p}) DIV 64 AS INT)),"
        f" CAST(0 AS BIGINT)), CAST(({p}) % 64 AS INT)) & 1) = 1"
        for p in _bloom_positions("o_custkey")
    )
    fact = tables["orders"].select("o_custkey")
    flags = (
        fact.join(
            F.broadcast(dim), fact["o_custkey"] == dim["c_custkey"], "left"
        )
        .crossJoin(F.broadcast(bloom))
        .select(
            F.col("c_custkey").isNotNull().alias("is_true"),
            F.expr(pass_expr).alias("bloom_pass"),
        )
    )
    return (
        flags.agg(
            F.count("*").alias("n_fact"),
            F.sum(F.col("is_true").cast("long")).alias("n_true"),
            F.sum(F.col("bloom_pass").cast("long")).alias("n_pass"),
            F.sum((F.col("is_true") & ~F.col("bloom_pass")).cast("long")).alias(
                "n_false_neg"
            ),
        )
        .select(
            "n_fact",
            "n_true",
            "n_pass",
            "n_false_neg",
            F.expr(
                "CASE WHEN n_fact > n_true THEN"
                " 10000 * (n_pass - n_true) DIV (n_fact - n_true) END"
            ).alias("fp_bp"),
        )
    )


#: compaction planning: target output file size (bytes). Scaled to the
#: test corpus (per-day volume ≈ tens of KB at sf0.01); production uses
#: 128–1024 MiB — the arithmetic is size-free.
TARGET_FILE_BYTES = 16384
#: fixed-width payload bytes per event row (event_id, ts, user_id, value)
_ROW_FIXED_BYTES = 32


#: join-key skew audit: the percentile of the per-key row-count
#: distribution reported alongside max/mean
SKEW_PCT = 99


def join_key_skew_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Pre-join skew audit of the fact-side key (orders.o_custkey) — the
    one-row table read BEFORE deciding whether a join needs salting or
    AQE skew handling: total rows, distinct keys, max/p99/mean rows per
    key, and the hottest key's multiple of the mean (basis points).

    Plan shape at 100 TB: ONE map-side-combined groupBy(key) builds the
    per-key counts; the count-of-counts histogram (≤ |distinct count
    values| rows — tiny) gives the exact p99 through
    :func:`distribution.exact_cuts`, so the skew numbers come out
    bit-exact with no sort over the corpus and no sampling. Mean is
    integer micros; skew_bp = 10000·max·keys/rows.
    """
    counts = tables["orders"].groupBy("o_custkey").agg(
        F.count("*").alias("c")
    )
    hist = counts.groupBy("c").agg(F.count("*").alias("n_keys"))
    p99 = f"p{SKEW_PCT}_rows_per_key"
    rows = hist.agg(
        F.sum(F.col("c") * F.col("n_keys")).alias("n_rows"),
        F.max("c").alias("max_rows_per_key"),
    )
    return (
        exact_cuts(hist, "c", "n_keys", {p99: (SKEW_PCT, 100)})
        .crossJoin(rows)
        .withColumnRenamed("n", "n_keys")
        .select(
            "n_rows",
            "n_keys",
            "max_rows_per_key",
            p99,
            F.expr("1000000 * n_rows DIV n_keys").alias("mean_rows_micro"),
            F.expr("10000 * max_rows_per_key * n_keys DIV n_rows").alias(
                "skew_bp"
            ),
        )
    )


def partition_layout_plan(tables: dict[str, DataFrame]) -> DataFrame:
    """Compaction / write-layout planner for a date-partitioned events
    sink: per day, exact payload accounting (fixed-width columns at 8 B
    each + actual string byte lengths) and the target file count
    ``ceil(bytes / TARGET_FILE_BYTES)`` — the input a writer needs to
    pick ``repartitionByRange`` / file-count hints so a day neither
    fragments into small files nor skews into one giant one.

    One map-side-combinable aggregation; everything is int64 (byte sums,
    ceiling via ``(b + T - 1) DIV T``), so the plan hash-matches. The
    skew flag marks days > 2× the mean day's bytes — the days that need
    intra-day splitting (salting / range keys), which is exactly the
    file-layout decision at 100 TB.
    """
    ev = tables["events"]
    per_day = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.lit(_ROW_FIXED_BYTES) * F.count("*")
                + F.sum(F.length("event_type").cast("long"))
                + F.sum(F.length("props").cast("long"))
            ).alias("est_bytes"),
        )
    )
    tot = per_day.agg(
        F.sum("est_bytes").alias("tb"), F.count("*").alias("nd")
    )
    return per_day.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_rows",
        "est_bytes",
        F.expr(
            f"(est_bytes + {TARGET_FILE_BYTES} - 1) DIV {TARGET_FILE_BYTES}"
        ).alias("n_target_files"),
        (F.col("est_bytes") * F.col("nd") > 2 * F.col("tb")).alias(
            "skewed"
        ),
    )


QUERIES = {
    "partition_layout_plan": partition_layout_plan,
    "join_key_skew_report": join_key_skew_report,
    "events_column_profile": events_column_profile,
    "top_event_by_value_per_user": top_event_by_value_per_user,
    "data_quality_checks": data_quality_checks,
    "value_drift_ks": value_drift_ks,
    "psi_value_drift": psi_value_drift,
    "value_winsorize": value_winsorize,
    "bloom_prefilter_check": bloom_prefilter_check,
}

_DQ_EXPRS = {
    "completeness_event_id": "10000 * nn_id // n",
    "uniqueness_event_id": "10000 * nd_id // n",
    "completeness_ts": "10000 * nn_ts // n",
    "completeness_user_id": "10000 * nn_user // n",
    "value_non_negative": "10000 * nonneg // n",
    "event_type_known": "10000 * known // n",
}

ORACLES: dict[str, str] = {
    "join_key_skew_report": """
        WITH counts AS (SELECT o_custkey, count(*) AS c
                        FROM orders GROUP BY o_custkey),
        hist AS (SELECT c, count(*) AS n_keys FROM counts GROUP BY c),
        tot AS (SELECT sum(n_keys) AS keys, sum(c * n_keys) AS rows,
                       max(c) AS max_c
                FROM hist),
        cum AS (SELECT c, sum(n_keys) OVER (ORDER BY c) AS cum FROM hist)
        SELECT CAST(rows AS BIGINT) AS n_rows,
               CAST(keys AS BIGINT) AS n_keys,
               CAST(max_c AS BIGINT) AS max_rows_per_key,
               CAST((SELECT min(c) FROM cum, tot
                     WHERE 100 * cum >= 99 * keys) AS BIGINT)
                 AS p99_rows_per_key,
               CAST(1000000 * rows // keys AS BIGINT) AS mean_rows_micro,
               CAST(10000 * max_c * keys // rows AS BIGINT) AS skew_bp
        FROM tot
    """,
    "partition_layout_plan": f"""
        WITH per_day AS (
          SELECT date_trunc('day', ts) AS day,
                 count(*) AS n_rows,
                 CAST({_ROW_FIXED_BYTES} * count(*)
                      + sum(CAST(length(event_type) AS BIGINT))
                      + sum(CAST(length(props) AS BIGINT))
                      AS BIGINT) AS est_bytes
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(est_bytes) AS BIGINT) AS tb, count(*) AS nd
          FROM per_day
        )
        SELECT day, n_rows, est_bytes,
               CAST((est_bytes + {TARGET_FILE_BYTES} - 1)
                    // {TARGET_FILE_BYTES} AS BIGINT) AS n_target_files,
               est_bytes * nd > 2 * tb AS skewed
        FROM per_day, tot
    """,
    "value_winsorize": f"""
        WITH d AS (
          SELECT event_id, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS v_c
          FROM events WHERE value IS NOT NULL
        ),
        hist AS (
          SELECT event_type, v_c, count(*) AS cnt FROM d GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, v_c,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY v_c) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n
          FROM hist
        ),
        th AS (
          SELECT event_type,
                 min(CASE WHEN 100 * cum >= {WINSOR_LO_PCT} * n
                          THEN v_c END) AS lo_c,
                 min(CASE WHEN 100 * cum >= {WINSOR_HI_PCT} * n
                          THEN v_c END) AS hi_c
          FROM cum GROUP BY event_type
        )
        SELECT d.event_id, d.event_type, d.v_c,
               least(greatest(d.v_c, th.lo_c), th.hi_c) AS clipped_c
        FROM d JOIN th USING (event_type)
    """,
    "value_drift_ks": """
        WITH b AS (
          SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS t0,
                 CAST(epoch_us(max(ts)) AS BIGINT) AS t1
          FROM events
        ),
        half AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS v_c,
                 CAST(epoch_us(ts) AS BIGINT) * 2 < b.t0 + b.t1 AS first_half
          FROM events, b
          WHERE value IS NOT NULL
        ),
        hist AS (
          SELECT v_c,
                 sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS c1,
                 sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS c2
          FROM half GROUP BY v_c
        ),
        cum AS (
          SELECT CAST(sum(c1) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum1,
                 CAST(sum(c2) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum2,
                 CAST(sum(c1) OVER () AS BIGINT) AS n1,
                 CAST(sum(c2) OVER () AS BIGINT) AS n2
          FROM hist
        )
        SELECT max(n1) AS n_first, max(n2) AS n_second,
               CAST(CASE WHEN max(n1) * max(n2) > 0
                         THEN max(abs(cum1 * n2 - cum2 * n1)) * 10000
                              // (max(n1) * max(n2)) END AS BIGINT) AS ks_bp
        FROM cum
    """,
    "data_quality_checks": """
        WITH one AS (
          SELECT count(*) AS n,
                 count(event_id) AS nn_id,
                 count(DISTINCT event_id) AS nd_id,
                 count(ts) AS nn_ts,
                 count(user_id) AS nn_user,
                 count(*) FILTER (value >= 0) AS nonneg,
                 count(*) FILTER (event_type IN
                   ('view', 'click', 'purchase', 'signup', 'error')) AS known
          FROM events
        )
    """
    + " UNION ALL ".join(
        _dq_row(name, _DQ_EXPRS[name], thr) for name, thr in DQ_THRESHOLDS_BP
    ),
    "events_column_profile": """
        WITH rendered AS (
          SELECT event_id, user_id, event_type, ts,
                 CAST(round(value * 100, 0) AS BIGINT) AS value_cents
          FROM events
        ), one AS (
          SELECT count(*) AS n_rows,
            count(event_id) AS event_id__nn, count(DISTINCT event_id) AS event_id__nd,
            CAST(min(event_id) AS VARCHAR) AS event_id__min,
            CAST(max(event_id) AS VARCHAR) AS event_id__max,
            count(user_id) AS user_id__nn, count(DISTINCT user_id) AS user_id__nd,
            CAST(min(user_id) AS VARCHAR) AS user_id__min,
            CAST(max(user_id) AS VARCHAR) AS user_id__max,
            count(event_type) AS event_type__nn,
            count(DISTINCT event_type) AS event_type__nd,
            min(event_type) AS event_type__min, max(event_type) AS event_type__max,
            count(value_cents) AS value_cents__nn,
            count(DISTINCT value_cents) AS value_cents__nd,
            CAST(min(value_cents) AS VARCHAR) AS value_cents__min,
            CAST(max(value_cents) AS VARCHAR) AS value_cents__max,
            count(ts) AS ts__nn, count(DISTINCT ts) AS ts__nd,
            strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts__min,
            strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts__max
          FROM rendered
        )
    """
    + " UNION ALL ".join(
        [
            _profile_row(
                "event_id", "event_id__nn", "event_id__nd",
                "event_id__min", "event_id__max",
            ),
            _profile_row(
                "user_id", "user_id__nn", "user_id__nd",
                "user_id__min", "user_id__max",
            ),
            _profile_row(
                "event_type", "event_type__nn", "event_type__nd",
                "event_type__min", "event_type__max",
            ),
            _profile_row(
                "value_cents", "value_cents__nn", "value_cents__nd",
                "value_cents__min", "value_cents__max",
            ),
            _profile_row("ts", "ts__nn", "ts__nd", "ts__min", "ts__max"),
        ]
    ),
    "top_event_by_value_per_user": """
        WITH ranked AS (
          SELECT user_id, event_type,
                 CAST(round(value * 100, 0) AS BIGINT) * 1000000000
                   + event_id AS rank
          FROM events
        )
        SELECT user_id, arg_max(event_type, rank) AS top_event_type,
               CAST(max(rank) // 1000000000 AS BIGINT) AS top_value_cents
        FROM ranked GROUP BY user_id
    """,
}

_BLOOM_SEEDS_SQL = ", ".join(f"({a}, {b})" for a, b in BLOOM_SEEDS)
_BLOOM_PROBES_ORDERS = _bloom_positions("o.o_custkey")

ORACLES["bloom_prefilter_check"] = f"""
    WITH dim AS (
      SELECT c_custkey AS k FROM customer
      WHERE c_mktsegment = '{BLOOM_SEGMENT}'
    ),
    seeds(a, b) AS (VALUES {_BLOOM_SEEDS_SQL}),
    bits AS (
      SELECT DISTINCT ((k % {HASH_MOD}) * a + b) % {HASH_MOD}
                        % {BLOOM_BITS} AS pos
      FROM dim, seeds
    ),
    flags AS (
      SELECT (d.k IS NOT NULL) AS is_true,
             ({_BLOOM_PROBES_ORDERS[0]}) IN (SELECT pos FROM bits)
             AND ({_BLOOM_PROBES_ORDERS[1]}) IN (SELECT pos FROM bits)
             AND ({_BLOOM_PROBES_ORDERS[2]}) IN (SELECT pos FROM bits)
               AS bloom_pass
      FROM orders o LEFT JOIN dim d ON o.o_custkey = d.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_fact,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN is_true AND NOT bloom_pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg,
           CASE WHEN count(*) > sum(CASE WHEN is_true THEN 1 ELSE 0 END)
                THEN CAST(10000 * (sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
                            - sum(CASE WHEN is_true THEN 1 ELSE 0 END))
                     // (count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END))
                     AS BIGINT)
           END AS fp_bp
    FROM flags
"""

_PSI_EDGES = ", ".join(
    f"min(CASE WHEN {PSI_BUCKETS} * cum1 >= {j} * n1 THEN v_c END) AS e{j}"
    for j in range(1, PSI_BUCKETS)
)
_PSI_EDGE_ARR = "[" + ", ".join(f"e{j}" for j in range(1, PSI_BUCKETS)) + "]"

ORACLES["psi_value_drift"] = f"""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
    ),
    h AS (
      SELECT CAST(floor(value * 100) AS BIGINT) AS v_c,
             (epoch_us(ts) * 2 < t0 + t1) AS first_half
      FROM events, b WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT v_c,
             sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS c2
      FROM h GROUP BY v_c
    ),
    cum AS (
      SELECT v_c, c1, c2,
             sum(c1) OVER (ORDER BY v_c) AS cum1,
             sum(c1) OVER () AS n1
      FROM hist
    ),
    edges AS (SELECT {_PSI_EDGES} FROM cum),
    bk AS (
      SELECT len(list_filter({_PSI_EDGE_ARR}, e -> v_c > e)) AS bucket, c1, c2
      FROM hist, edges
    ),
    bc AS (SELECT bucket, sum(c1) AS c1, sum(c2) AS c2 FROM bk GROUP BY bucket),
    t AS (
      SELECT bucket, c1, c2,
             sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
      FROM bc
    ),
    terms AS (
      SELECT bucket, n1, n2,
             ((c1 + 1) / (n1 + {PSI_BUCKETS})
              - (c2 + 1) / (n2 + {PSI_BUCKETS}))
             * ln(((c1 + 1) * (n2 + {PSI_BUCKETS}))
                  / ((c2 + 1) * (n1 + {PSI_BUCKETS}))) AS term
      FROM t
    )
    SELECT CAST(max(n1) AS BIGINT) AS n_first,
           CAST(max(n2) AS BIGINT) AS n_second,
           CASE WHEN max(n1) * max(n2) > 0 THEN
             CAST(floor(1000000 * list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY bucket)),
               (a, b) -> a + b)) AS BIGINT) END AS psi_micro
    FROM terms
"""
