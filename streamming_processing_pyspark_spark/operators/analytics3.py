"""Round-7 operator batch: activity windows, integrity/governance audits,
storage layout, and pipeline-efficiency rollups.

Ten operators extending the engine's warehouse-ops and training-data
surface (the reference project — ``/root/reference``, Task2-4/Client.py —
has none of this; these are north-star extensions per SURVEY.md §7
phase 4), all Spark-first and DuckDB-oracle-checked:

- ``rolling_7d_active_users`` — sliding-window distinct users per day via
  (day, user) dedup + a broadcast day-grid range join: the exact rolling
  DAU/WAU query without any corpus-sized sliding state.
- ``seasonality_profile`` — hour-of-week activity/revenue profile (≤168
  cells from one map-combined aggregation).
- ``burst_users_audit`` — per-user max events/minute vs a burst threshold
  (abuse/bot triage; two narrowing aggregations).
- ``referential_integrity_audit`` — orphaned lineitems, childless orders,
  customer FK breaks and header-vs-detail price mismatches in ONE
  full-outer join pass + broadcast customer probe.
- ``dup_leakage_matrix`` — near-duplicate pairs bucketed by source pair:
  which corpora leak into each other (dedup pairs joined to doc metadata;
  pair-sized, not corpus-sized).
- ``embedding_dim_stats`` — per-dimension integer-micro stats over the
  embedding table (posexplode + one map-combined shuffle): the drift /
  dead-dimension audit before ANN index builds.
- ``zorder_cluster_assign`` — Morton (Z-order) interleave of two order
  dimensions → target-file assignment summary: the data-skipping layout
  plan (Delta/Iceberg OPTIMIZE ZORDER analogue) in pure integer algebra.
- ``packing_efficiency_report`` — per-shard utilization of the
  concat-and-chunk packing layout (bins, tokens, fill ratio).
- ``text_compression_ratio`` — per-doc distinct-4-gram ratio, the
  compressibility proxy quality filters use for boilerplate/repetition;
  entirely map-only (zero shuffles).
- ``anonymization_ladder`` — k-anonymity risk at three value-bucket
  generalization levels, derived from ONE finest-level cell aggregation
  (coarser levels re-group the bounded cell frame, never the corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Tables = dict[str, DataFrame]

#: rolling-activity window (days, inclusive of the current day)
ACTIVE_WINDOW_DAYS = 7

#: burst audit: flag users whose busiest minute reaches this many events
BURST_PER_MINUTE = 2

#: Z-order: bits per dimension (4 → 16×16 grid, 8-bit Morton codes)
Z_BITS = 4
#: Z-order: Morton-code span per target file (256 codes / 16 files)
Z_CODES_PER_FILE = 16

#: compressibility: n-gram width and the "repetitive" cut (per-mille)
COMPRESS_NGRAM = 4
REPETITIVE_MILLI = 600

#: anonymization ladder: value-bucket widths, coarsest last. Each must be
#: a multiple of the finest so coarser cells re-group finer ones exactly
#: (floor(floor(v/10)/k) == floor(v/(10k)) for positive widths).
LADDER_WIDTHS = (10, 50, 250)
#: k-anonymity threshold shared with governance.k_anonymity_check
LADDER_K = 5

#: embedding stats: fixed-point scale (micro-units). The oracle's
#: dimension-index series is derived from max(len(embedding)) in the data
#: itself (ADVICE r7: a fixed literal cap would silently truncate the
#: oracle on wider embedding tables).
EMB_MICRO = 1_000_000


def _cents(col: str = "value") -> Column:
    return F.round(F.col(col) * 100, 0).cast("long")


def rolling_7d_active_users(t: Tables) -> DataFrame:
    """Rolling 7-day active users per day (WAU), exact.

    Plan shape for 100 TB: the corpus reduces FIRST to distinct
    (day, user) pairs (one map-combined aggregation — the only
    corpus-sized stage), then a BROADCAST day grid (|days| rows) range-
    joins the pair frame, so each pair lands in ≤ 7 grid days and the
    final count-distinct shuffles |pairs|×7 narrow rows. No sliding
    window state, no per-day corpus rescans; this is how rolling distinct
    aggregates are done when the window function can't (count DISTINCT
    over a range frame is unsupported and would be corpus-sorted anyway).
    """
    from ..tables import persist_replacing

    ev = t["events"]
    # persisted: the day grid derives from the SAME reduced frame instead
    # of a second corpus scan (PLANS.md audit r7)
    du = persist_replacing(
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct(),
        "analytics3.day_user",
    )
    grid = du.select(F.col("day").alias("grid_day")).distinct()
    span = F.expr(f"INTERVAL {ACTIVE_WINDOW_DAYS - 1} DAYS")
    return (
        du.join(
            F.broadcast(grid),
            (F.col("day") <= F.col("grid_day"))
            & (F.col("day") >= F.col("grid_day") - span),
        )
        .groupBy("grid_day")
        .agg(
            F.count_distinct("user_id").alias("active_users_7d"),
            F.count_distinct(
                F.when(F.col("day") == F.col("grid_day"), F.col("user_id"))
            ).alias("active_users_1d"),
        )
        .select(F.col("grid_day").alias("day"), "active_users_7d", "active_users_1d")
    )


def seasonality_profile(t: Tables) -> DataFrame:
    """Hour-of-week seasonality: events, revenue and traffic share per
    (day-of-week, hour-of-day) cell — the load/seasonality profile behind
    capacity planning and anomaly baselines.

    One map-combined groupBy to ≤168 cells; the share window runs over
    the tiny cell frame only. All-integer output (cents, basis points,
    DIV means) — bit-exact vs the oracle. Day-of-week is pinned to
    Spark's ``dayofweek`` (1 = Sunday … 7 = Saturday; the oracle maps
    DuckDB's 0-based DOW with ``+ 1``).
    """
    return seasonality_shares(seasonality_cells(t["events"]))


def seasonality_cells(events: DataFrame) -> DataFrame:
    """``(dow, hod, n_events, sum_value_cents)``: the ≤168 hour-of-week
    cells — a plain aggregation, so the streaming twin runs it as is."""
    return events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(_cents()).alias("sum_value_cents"),
    )


def seasonality_shares(cells: DataFrame) -> DataFrame:
    """Mean value and traffic share per cell of :func:`seasonality_cells`."""
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the share window runs over the ≤168-cell frame, never the corpus
    return cells.withColumn(
        "total", F.sum("n_events").over(w_all)
    ).select(
        "dow",
        "hod",
        "n_events",
        "sum_value_cents",
        F.expr("sum_value_cents DIV n_events").alias("avg_value_cents"),
        F.expr("10000 * n_events DIV total").alias("share_bp"),
    )


def burst_users_audit(t: Tables) -> DataFrame:
    """Users whose busiest minute reaches ``BURST_PER_MINUTE`` events —
    the bot/abuse triage list, with their activity footprint.

    Two narrowing aggregations: corpus → (user, minute) counts (one
    map-combined shuffle) → per-user rollup (second, much smaller
    shuffle). Output is the flagged users only, so nothing row-sized
    leaves the aggregation chain.
    """
    return burst_rollup(user_minute_counts(t["events"]))


def user_minute_counts(events: DataFrame) -> DataFrame:
    """``(user_id, m, c)``: events per user per clock minute — a plain
    aggregation, so the streaming twin runs it as is."""
    return events.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count("*").alias("c"))


def burst_rollup(pm: DataFrame) -> DataFrame:
    """Per-user rollup of :func:`user_minute_counts`, flagged users only."""
    return (
        pm.groupBy("user_id")
        .agg(
            F.max("c").alias("max_events_per_minute"),
            F.count("*").alias("n_active_minutes"),
            F.sum("c").alias("n_events"),
        )
        .where(F.col("max_events_per_minute") >= BURST_PER_MINUTE)
    )


def referential_integrity_audit(t: Tables) -> DataFrame:
    """One-row referential-integrity report over the order warehouse:

    - ``n_orphan_lineitem_orders`` — lineitem order keys with NO orders row
    - ``n_childless_orders``       — orders with no lineitems
    - ``n_orders_no_customer``     — orders whose customer FK dangles
    - ``n_price_mismatch``         — orders whose header total (cents)
      differs from the sum of their lineitems' net cents
      (``round(extprice·(1−disc)·(1+tax)·100)`` per line)
    - ``n_orders`` / ``n_lineitem_orders`` — denominators

    Plan: lineitems reduce to per-order sums (map-combined), then ONE
    full-outer join against orders catches both orphan directions in a
    single exchange; the customer probe is a broadcast left join. The
    report is a 1-row aggregate — nothing row-sized reaches the driver.
    """
    li = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100,
                    0,
                ).cast("long")
            ).alias("li_cents")
        )
    )
    o = t["orders"].select(
        "o_orderkey", "o_custkey", _cents("o_totalprice").alias("o_cents")
    )
    cust = t["customer"].select(F.col("c_custkey").alias("cust_ok"))
    j = (
        o.join(li, o.o_orderkey == li.l_orderkey, "full_outer")
        .join(F.broadcast(cust), o.o_custkey == F.col("cust_ok"), "left")
    )
    return j.agg(
        F.count("o_orderkey").alias("n_orders"),
        F.count("l_orderkey").alias("n_lineitem_orders"),
        F.sum(
            (F.col("o_orderkey").isNull()).cast("long")
        ).alias("n_orphan_lineitem_orders"),
        F.sum(
            (F.col("o_orderkey").isNotNull() & F.col("l_orderkey").isNull()).cast(
                "long"
            )
        ).alias("n_childless_orders"),
        F.sum(
            (F.col("o_orderkey").isNotNull() & F.col("cust_ok").isNull()).cast(
                "long"
            )
        ).alias("n_orders_no_customer"),
        F.sum(
            (
                F.col("o_orderkey").isNotNull()
                & F.col("l_orderkey").isNotNull()
                & (F.col("o_cents") != F.col("li_cents"))
            ).cast("long")
        ).alias("n_price_mismatch"),
    )


def dup_leakage_matrix(t: Tables, pairs: DataFrame | None = None) -> DataFrame:
    """Near-duplicate LEAKAGE matrix: near-dup pairs bucketed by unordered
    source pair — which corpora duplicate into which (cross-source rows
    are the train/eval or licensing leaks; the same-source diagonal is
    ordinary redundancy).

    The PAIR SOURCE is a parameter (VERDICT r7 §3). This default binding
    reads the exact :func:`dedup.ngram_jaccard_pairs` frame — the
    oracle-checkable baseline, quadratic-ish in pair density — and serves
    as the ``_check`` for :func:`dup_leakage_matrix_minhash`, the banded
    production wiring that runs at candidate-proportional cost.

    Scale: the pair frame is tiny next to the corpus, so the two metadata
    probes join pair-sized rows against the (doc_id, source) projection;
    the matrix itself is |sources|² bounded. Output: ``source_a`` ≤
    ``source_b`` lexicographically, ``n_pairs``, ``cross_source``.
    """
    from .dedup import ngram_jaccard_pairs

    if pairs is None:
        pairs = ngram_jaccard_pairs(t).select("id_a", "id_b")
    meta = t["documents"].select("doc_id", "source")
    a = meta.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    b = meta.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
        )
    )


def dup_leakage_matrix_minhash(t: Tables) -> DataFrame:
    """The 100 TB wiring of :func:`dup_leakage_matrix`: the pair source is
    :func:`dedup.minhash_lsh_pairs` — banded LSH candidate discovery
    (cost ∝ candidates, α≈0.2 in SCALE.md) with every candidate
    exact-Jaccard verified, so its pairs are a high-recall SUBSET of the
    exact frame and every matrix cell is bounded by the exact matrix's.
    Rows-only driver check (xxhash64 MinHash isn't SQL-reproducible);
    :func:`dup_leakage_matrix_minhash_check` is the hard contract.
    """
    from .dedup import minhash_lsh_pairs

    return dup_leakage_matrix(t, minhash_lsh_pairs(t).select("id_a", "id_b"))


def dup_leakage_matrix_minhash_check(t: Tables) -> DataFrame:
    """Hard driver contract for :func:`dup_leakage_matrix_minhash`: one
    row with the EXACT matrix's cell count (oracle recomputes it) and the
    claims that (a) every minhash-sourced cell exists in the exact matrix
    and (b) no minhash cell counts more pairs than its exact counterpart —
    both structurally guaranteed by the subset property of the verified
    banded candidates, now driver-verified as data.
    """
    exact = dup_leakage_matrix(t).select(
        "source_a", "source_b", F.col("n_pairs").alias("n_exact")
    )
    mh = dup_leakage_matrix_minhash(t).select(
        "source_a", "source_b", F.col("n_pairs").alias("n_mh")
    )
    j = exact.join(mh, ["source_a", "source_b"], "full_outer")
    return j.agg(
        F.count("n_exact").alias("n_cells_exact"),
        F.sum(
            F.when(F.col("n_exact").isNull(), 1).otherwise(0)
        ).alias("_outside"),
        F.sum(
            F.when(F.col("n_mh") > F.col("n_exact"), 1).otherwise(0)
        ).alias("_over"),
    ).select(
        "n_cells_exact",
        (F.col("_outside") == 0).alias("subset_ok"),
        (F.col("_over") == 0).alias("bounded_ok"),
    )


def embedding_dim_stats(t: Tables) -> DataFrame:
    """Per-dimension audit of the embedding table: count, sum / min /
    max / mean in exact integer micro-units — the drift and
    dead-dimension check run before (re)building ANN indexes.

    Fixed-point trick for bit-exact parity: each float32 component is
    widened to double (exact) and floored at 1e-6 resolution
    (``floor(v·1e6)``), so every aggregate is integer arithmetic — no
    float summation-order hazard in either engine. Plan: posexplode to
    (dim, micro) narrow rows, ONE map-combined groupBy(dim) — at 100 TB
    the shuffle carries d partial rows per map task, not n×d.
    """
    from .similarity import as_double

    e = t["embeddings"].select(
        F.posexplode(as_double("embedding")).alias("dim", "v")
    )
    m = e.select("dim", F.floor(F.col("v") * EMB_MICRO).cast("long").alias("vm"))
    return (
        m.groupBy("dim")
        .agg(
            F.count("*").alias("n_vals"),
            F.sum("vm").alias("sum_micro"),
            F.min("vm").alias("min_micro"),
            F.max("vm").alias("max_micro"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_vals",
            "sum_micro",
            "min_micro",
            "max_micro",
            # int64 / int64 → double, identically rounded in both engines;
            # floor makes it exact-integer output
            F.floor(F.col("sum_micro") / F.col("n_vals"))
            .cast("long")
            .alias("mean_micro"),
        )
    )


#: unit-norm audit band: vectors whose norm² is off 1.0 by more than
#: NORM_BAND_BP basis points are counted as broken
NORM_BAND_BP = 500
#: fixed-point scale for norm² (components floored at 1e-6 → norm² of a
#: unit vector ≈ 1e12)
_NORM_UNIT = 1_000_000_000_000


def embedding_norm_audit(t: Tables) -> DataFrame:
    """One-row unit-norm audit of the embedding table — the gate an ANN
    build runs before treating cosine as a dot product (IVF/PQ/LSH here
    all assume ~unit vectors): count of vectors whose norm² is more than
    ``NORM_BAND_BP`` basis points off 1.0, plus the exact min/max/mean
    norm² so drift is visible before it breaks the band.

    Fixed-point exactness: components floor at 1e-6 and norm² is the
    integer sum of their squares (≤ ~2e10/dim × dims — far inside
    int64), so every output hash-matches the oracle with no float-sum
    order hazard. Map-only scoring + one 1-row aggregate. (The corpus
    SUM of norm² overflows int64 past ~9e6 billion-scale vectors; at
    that scale shift norm² down 20 bits before the mean — the band
    counter itself never sums norm² and is overflow-free at any n.)
    """
    from .similarity import as_double

    norm2 = F.expr(
        "aggregate(transform(_vec, x -> CAST(floor(x * 1000000.0) AS BIGINT)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v * v)"
    )
    m = t["embeddings"].select(
        as_double("embedding").alias("_vec")
    ).select(norm2.alias("norm2"))
    off = F.abs(F.col("norm2") - F.lit(_NORM_UNIT))
    return m.agg(
        F.count("*").alias("n_vecs"),
        F.min("norm2").alias("min_norm2"),
        F.max("norm2").alias("max_norm2"),
        F.expr("sum(norm2) DIV count(*)").alias("mean_norm2"),
        F.sum(
            (off * 10000 > F.lit(NORM_BAND_BP) * F.lit(_NORM_UNIT)).cast("long")
        ).alias("n_outside_band"),
    )


def _morton(x: Column, y: Column, bits: int) -> Column:
    """Interleave the low ``bits`` of x (even positions) and y (odd) —
    pure div/mod integer algebra, so both engines compute it identically
    (no engine-specific bit operators)."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + ((x / F.lit(2**i)).cast("long") % 2) * F.lit(2 ** (2 * i))
            + ((y / F.lit(2**i)).cast("long") % 2) * F.lit(2 ** (2 * i + 1))
        )
    return z.cast("long")


def zorder_cluster_assign(t: Tables) -> DataFrame:
    """Z-order (Morton) layout plan for the orders table: interleave a
    customer bucket and a day-of-month bucket into an 8-bit Morton code,
    assign codes to target files, and report the per-file bounding box —
    the Delta/Iceberg ``OPTIMIZE ZORDER BY`` analogue.

    Why it matters at 100 TB: files written in Z-order carry TIGHT
    min/max ranges on BOTH dimensions, so predicate-driven file skipping
    works for either column — the per-file ``x``/``y`` extents this
    report emits are exactly the skipping statistics. The code is
    map-only integer algebra; the actual writer is
    :func:`storage.write_zordered` (same Morton construction with
    bitwise operators) — this is its oracle-checked PLANNING report,
    in portable div/mod algebra so DuckDB replays the codes bit-exactly.
    Output is one row per target file (bounded), from one map-combined
    aggregation.
    """
    x = (F.col("o_custkey") % (2**Z_BITS)).cast("long")
    y = (F.dayofmonth("o_orderdate") % (2**Z_BITS)).cast("long")
    coded = t["orders"].select(
        x.alias("x"), y.alias("y"), _morton(x, y, Z_BITS).alias("z")
    )
    return (
        coded.select(
            "x", "y", "z", F.expr(f"z DIV {Z_CODES_PER_FILE}").alias("file_id")
        )
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def packing_efficiency_report(t: Tables) -> DataFrame:
    """Per-shard efficiency of the concat-and-chunk packing layout
    (:func:`pipeline.token_pack_bins`): docs, tokens, occupied bins and
    the integer fill ratio (tokens per bin-slot, per-mille) — the number
    a training-data owner checks before accepting a packing run.

    Adds one bounded rollup (8 shard rows) on top of the packing frame's
    own per-shard window; nothing new is corpus-sized.
    """
    from .pipeline import PACK_SEQ_LEN, token_pack_bins

    p = token_pack_bins(t)
    return (
        p.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count_distinct("bin_id").alias("n_bins"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            "n_bins",
            F.expr("total_tokens DIV " + str(PACK_SEQ_LEN)).alias(
                "n_full_seqs"
            ),
            F.expr(
                f"1000 * total_tokens DIV (n_bins * {PACK_SEQ_LEN})"
            ).alias("fill_milli"),
        )
    )


def text_compression_ratio(t: Tables) -> DataFrame:
    """Per-document distinct-4-gram ratio — the cheap compressibility
    proxy quality pipelines use to catch templated/boilerplate text
    (a low distinct ratio ≈ highly compressible ≈ repetitive).

    Entirely map-only: the n-gram set is built and deduplicated INSIDE
    the scan projection with array higher-order functions (no explode, no
    shuffle, no Python) — at 100 TB this runs at scan speed like the
    other map-only quality filters. Documents shorter than the n-gram
    width emit NULL ratio/flag. 1-based ``element_at`` keeps indexing
    ANSI-safe (``i + 3 ≤ n_words`` by construction).
    """
    ws = F.split(F.trim("text"), r"\s+")
    n_words = F.size(ws)
    n_grams = (n_words - (COMPRESS_NGRAM - 1)).cast("long")
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(_ws, i + {j})" for j in range(COMPRESS_NGRAM)
    ) + ")"
    distinct_grams = F.expr(
        "size(array_distinct(transform("
        f"sequence(1, CAST(_n_grams AS INT)), i -> {gram})))"
    ).cast("long")
    d = t["documents"].select(
        "doc_id", ws.alias("_ws"), n_grams.alias("_n_grams")
    )
    out = d.select(
        "doc_id",
        F.when(F.col("_n_grams") > 0, F.col("_n_grams")).alias("n_grams"),
        F.when(F.col("_n_grams") > 0, distinct_grams).alias("n_distinct_grams"),
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.expr("1000 * n_distinct_grams DIV n_grams").alias("distinct_milli"),
        (F.expr("1000 * n_distinct_grams DIV n_grams") < REPETITIVE_MILLI).alias(
            "repetitive"
        ),
    )


def anonymization_ladder(t: Tables) -> DataFrame:
    """k-anonymity risk at three generalization levels of the events QI
    tuple (type, hour, value bucket of width 10 → 50 → 250) — the
    anonymization workflow's core table: pick the coarsest level whose
    residual risk is acceptable.

    ONE corpus-sized aggregation (the finest cells, persisted); each
    coarser level re-groups the bounded cell frame — valid because the
    widths are nested multiples (``floor(floor(v/10)/k) == floor(v/10k)``
    for non-negative values), so generalization never rescans the corpus.
    Output per width: cells, min cell size, unsafe cells (< ``LADDER_K``),
    rows at risk and risk share in basis points.
    """
    from ..tables import persist_replacing

    base = LADDER_WIDTHS[0]
    cells = persist_replacing(
        t["events"]
        .groupBy(
            "event_type",
            F.hour("ts").alias("h"),
            F.floor(F.col("value") / base).cast("long").alias("b"),
        )
        .agg(F.count("*").alias("n_rows")),
        "analytics3.ladder_cells",
    )
    levels = []
    for width in LADDER_WIDTHS:
        k = width // base
        lvl = (
            cells.groupBy(
                "event_type", "h", F.floor(F.col("b") / k).cast("long").alias("gb")
            )
            .agg(F.sum("n_rows").alias("n_rows"))
            .agg(
                F.lit(width).cast("long").alias("bucket_width"),
                F.count("*").alias("n_cells"),
                F.min("n_rows").alias("min_cell_rows"),
                F.sum((F.col("n_rows") < LADDER_K).cast("long")).alias(
                    "unsafe_cells"
                ),
                F.sum(
                    F.when(F.col("n_rows") < LADDER_K, F.col("n_rows")).otherwise(
                        0
                    )
                ).alias("rows_at_risk"),
                F.expr(
                    f"10000 * sum(CASE WHEN n_rows < {LADDER_K} THEN n_rows"
                    " ELSE 0 END) DIV sum(n_rows)"
                ).alias("risk_bp"),
            )
        )
        levels.append(lvl)
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def _zorder_terms(xcol: str, ycol: str) -> str:
    return " + ".join(
        f"(({xcol} // {2**i}) % 2) * {2 ** (2 * i)}"
        f" + (({ycol} // {2**i}) % 2) * {2 ** (2 * i + 1)}"
        for i in range(Z_BITS)
    )


def _ladder_level_sql(width: int) -> str:
    k = width // LADDER_WIDTHS[0]
    return f"""
        SELECT CAST({width} AS BIGINT) AS bucket_width,
               count(*) AS n_cells,
               min(n_rows) AS min_cell_rows,
               CAST(sum(CASE WHEN n_rows < {LADDER_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS unsafe_cells,
               CAST(sum(CASE WHEN n_rows < {LADDER_K} THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(10000 * sum(CASE WHEN n_rows < {LADDER_K} THEN n_rows
                                ELSE 0 END) // sum(n_rows) AS BIGINT)
                 AS risk_bp
        FROM (SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows FROM ladder_cells
              GROUP BY event_type, h, b // {k})
    """


def _oracles() -> dict[str, str]:
    from .dedup import _SHINGLE_DUCK, _contract_duck, _jaccard_pairs_duck
    from .pipeline import PACK_SEQ_LEN, PACK_SHARDS

    gram = " || ' ' || ".join(
        f"ws[i + {j}]" for j in range(COMPRESS_NGRAM)
    )
    leakage = f"""
        WITH {_SHINGLE_DUCK},
        jp AS ({_jaccard_pairs_duck()})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs,
               least(da.source, db.source)
                 != greatest(da.source, db.source) AS cross_source
        FROM jp JOIN documents da ON jp.id_a = da.doc_id
                JOIN documents db ON jp.id_b = db.doc_id
        GROUP BY 1, 2, 4
    """
    return {
        "rolling_7d_active_users": f"""
            WITH du AS (
              SELECT DISTINCT date_trunc('day', ts) AS day, user_id
              FROM events
            ),
            g AS (SELECT DISTINCT day AS grid_day FROM du)
            SELECT g.grid_day AS day,
                   count(DISTINCT du.user_id) AS active_users_7d,
                   count(DISTINCT CASE WHEN du.day = g.grid_day
                                       THEN du.user_id END)
                     AS active_users_1d
            FROM du JOIN g
              ON du.day <= g.grid_day
             AND du.day >= g.grid_day - INTERVAL {ACTIVE_WINDOW_DAYS - 1} DAY
            GROUP BY 1
        """,
        "seasonality_profile": """
            WITH c AS (
              SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                     CAST(extract(hour FROM ts) AS INTEGER) AS hod,
                     count(*) AS n_events,
                     CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                          AS BIGINT) AS sum_value_cents
              FROM events GROUP BY 1, 2
            )
            SELECT dow, hod, n_events, sum_value_cents,
                   CAST(sum_value_cents // n_events AS BIGINT)
                     AS avg_value_cents,
                   CAST(10000 * n_events // (SELECT sum(n_events) FROM c)
                        AS BIGINT) AS share_bp
            FROM c
        """,
        "burst_users_audit": f"""
            WITH pm AS (
              SELECT user_id, date_trunc('minute', ts) AS m, count(*) AS c
              FROM events GROUP BY 1, 2
            )
            SELECT user_id,
                   max(c) AS max_events_per_minute,
                   count(*) AS n_active_minutes,
                   CAST(sum(c) AS BIGINT) AS n_events
            FROM pm GROUP BY user_id
            HAVING max(c) >= {BURST_PER_MINUTE}
        """,
        "referential_integrity_audit": """
            WITH li AS (
              SELECT l_orderkey,
                     CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                         * (1 + l_tax) * 100, 0) AS BIGINT))
                          AS BIGINT) AS li_cents
              FROM lineitem GROUP BY 1
            ),
            o AS (
              SELECT o_orderkey, o_custkey,
                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS o_cents
              FROM orders
            ),
            j AS (
              SELECT o.o_orderkey, o.o_custkey, o.o_cents,
                     li.l_orderkey, li.li_cents
              FROM o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
            ),
            j2 AS (
              SELECT j.*, c.c_custkey AS cust_ok
              FROM j LEFT JOIN customer c ON j.o_custkey = c.c_custkey
            )
            SELECT count(o_orderkey) AS n_orders,
                   count(l_orderkey) AS n_lineitem_orders,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_orphan_lineitem_orders,
                   CAST(sum(CASE WHEN o_orderkey IS NOT NULL
                                  AND l_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_childless_orders,
                   CAST(sum(CASE WHEN o_orderkey IS NOT NULL
                                  AND cust_ok IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_orders_no_customer,
                   CAST(sum(CASE WHEN o_orderkey IS NOT NULL
                                  AND l_orderkey IS NOT NULL
                                  AND o_cents != li_cents THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_price_mismatch
            FROM j2
        """,
        "dup_leakage_matrix": leakage,
        # the minhash-sourced matrix itself is rows-only (xxhash64 isn't
        # SQL-reproducible); this check recomputes the EXACT matrix's cell
        # count and expects the subset/bound claims to hold as data
        "dup_leakage_matrix_minhash_check": _contract_duck(
            leakage, "subset_ok", "bounded_ok", count="count(*) AS n_cells_exact"
        ),
        "embedding_norm_audit": f"""
            WITH m AS (
              SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(floor(x * 1000000.0) AS BIGINT))),
                       (a, v) -> a + v * v) AS norm2
              FROM embeddings
            )
            SELECT count(*) AS n_vecs,
                   min(norm2) AS min_norm2,
                   max(norm2) AS max_norm2,
                   CAST(sum(norm2) // count(*) AS BIGINT) AS mean_norm2,
                   CAST(sum(CASE WHEN abs(norm2 - {_NORM_UNIT}) * 10000
                                      > {NORM_BAND_BP} * {_NORM_UNIT}
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_outside_band
            FROM m
        """,
        "embedding_dim_stats": f"""
            WITH x AS (
              SELECT i - 1 AS dim,
                     CAST(floor((CAST(embedding AS DOUBLE[]))[i]
                                * {float(EMB_MICRO)}) AS BIGINT) AS vm
              FROM embeddings,
                   -- index series bound derived from the DATA (ADVICE r7:
                   -- a fixed literal cap silently drops dims on wider
                   -- embedding tables and the parity check would miss them)
                   (SELECT unnest(range(1,
                      (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i)
              WHERE i <= len(embedding)
            )
            SELECT CAST(dim AS INTEGER) AS dim,
                   count(*) AS n_vals,
                   CAST(sum(vm) AS BIGINT) AS sum_micro,
                   min(vm) AS min_micro,
                   max(vm) AS max_micro,
                   CAST(floor(sum(vm) / count(*)) AS BIGINT) AS mean_micro
            FROM x GROUP BY dim
        """,
        "zorder_cluster_assign": f"""
            WITH c AS (
              SELECT o_custkey % {2**Z_BITS} AS x,
                     day(o_orderdate) % {2**Z_BITS} AS y
              FROM orders
            ),
            z AS (SELECT x, y, CAST({_zorder_terms("x", "y")} AS BIGINT) AS zv
                  FROM c)
            SELECT zv // {Z_CODES_PER_FILE} AS file_id,
                   count(*) AS n_orders,
                   min(x) AS x_min, max(x) AS x_max,
                   min(y) AS y_min, max(y) AS y_max,
                   min(zv) AS z_min, max(zv) AS z_max
            FROM z GROUP BY 1
        """,
        "packing_efficiency_report": f"""
            WITH tokp AS (
              SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                          AS BIGINT) AS n_tokens
              FROM documents
            ),
            b AS (
              SELECT shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) // {PACK_SEQ_LEN} AS bin_id
              FROM tokp
            )
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   count(DISTINCT bin_id) AS n_bins,
                   CAST(sum(n_tokens) // {PACK_SEQ_LEN} AS BIGINT)
                     AS n_full_seqs,
                   CAST(1000 * sum(n_tokens)
                        // (count(DISTINCT bin_id) * {PACK_SEQ_LEN})
                        AS BIGINT) AS fill_milli
            FROM b GROUP BY shard
        """,
        "text_compression_ratio": f"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= {COMPRESS_NGRAM}
                          THEN CAST(len(ws) - {COMPRESS_NGRAM - 1} AS BIGINT)
                     END AS n_grams,
                     CASE WHEN len(ws) >= {COMPRESS_NGRAM}
                          THEN CAST(len(list_distinct(list_transform(
                                 generate_series(1,
                                   len(ws) - {COMPRESS_NGRAM - 1}),
                                 i -> {gram}))) AS BIGINT)
                     END AS n_distinct_grams
              FROM w
            )
            SELECT doc_id, n_grams, n_distinct_grams,
                   CAST(1000 * n_distinct_grams // n_grams AS BIGINT)
                     AS distinct_milli,
                   1000 * n_distinct_grams // n_grams < {REPETITIVE_MILLI}
                     AS repetitive
            FROM g
        """,
        "anonymization_ladder": f"""
            WITH ladder_cells AS MATERIALIZED (
              SELECT event_type,
                     CAST(extract(hour FROM ts) AS INTEGER) AS h,
                     CAST(floor(value / {LADDER_WIDTHS[0]}) AS BIGINT) AS b,
                     count(*) AS n_rows
              FROM events GROUP BY 1, 2, 3
            )
            {" UNION ALL ".join(_ladder_level_sql(w) for w in LADDER_WIDTHS)}
        """,
    }


ORACLES: dict[str, str] = _oracles()

QUERIES = {
    "rolling_7d_active_users": rolling_7d_active_users,
    "seasonality_profile": seasonality_profile,
    "burst_users_audit": burst_users_audit,
    "referential_integrity_audit": referential_integrity_audit,
    "dup_leakage_matrix": dup_leakage_matrix,
    "dup_leakage_matrix_minhash": dup_leakage_matrix_minhash,
    "dup_leakage_matrix_minhash_check": dup_leakage_matrix_minhash_check,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_norm_audit": embedding_norm_audit,
    "zorder_cluster_assign": zorder_cluster_assign,
    "packing_efficiency_report": packing_efficiency_report,
    "text_compression_ratio": text_compression_ratio,
    "anonymization_ladder": anonymization_ladder,
}
