"""Oracle-REPRODUCIBLE sketches — not just oracle-checked.

``events_analytics`` already carries the HLL / bitmap sketch family with
claim-style contracts (exact value + within-tolerance flag). This module
adds three sketches with a stronger property: their hashes are
SQL-portable (the seeded affine char fold / the multiplicative
congruential integer hash), so DuckDB replays the ENTIRE sketch — cells,
estimates, and guarantees — and the driver hash-matches every number,
not just a boolean:

- count-min over bigram frequencies (``cms_bigram_check`` /
  ``cms_cells_from`` — the latter runs unchanged as a streaming
  aggregation);
- CMS inner-product JOIN-SIZE estimation (``cms_join_size_check`` — the
  planner use: |A ⋈ B| without touching the join, with the ≥-guarantee
  and the expected-excess bound emitted as data);
- KMV (k-minimum-values) distinct sketches (``kmv_type_overlap`` — set
  INTERSECTION estimates HLL can't express, plus
  ``registry.streaming_kmv_sketch`` maintaining the same sketch as
  custom bounded streaming state).

Reference scope note: the reference (/root/reference) has no sketch
surface; this is 100 TB training-pipeline breadth per SURVEY.md §7
phase 4 (heavy_hitter_bigrams' docstring names the CMS as its scale
alternative — this registers it).

Scale shape: occurrences fold STRAIGHT into (depth, cell) counts — the
map-side partial aggregation compresses every task's output to at most
DEPTH x WIDTH rows, so the shuffle is sketch-sized (4 x 1024 cells)
regardless of corpus size; that is the whole point of the CMS at 100 TB
(the exact top-k pass here exists only to state the >=-guarantee as
driver-checkable data — production queries the cells directly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD, fold_hash, fold_hash_duck
from .text import words

Tables = dict[str, DataFrame]

#: sketch geometry: depth = independent hash rows, width = cells per row
CMS_DEPTH = 4
CMS_WIDTH = 1024
#: heavy hitters whose estimates the check emits
CMS_TOPK = 20


_BIGRAM = (
    "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),"
    " (a, b) -> concat(a, ' ', b))"
)


def _bigrams_of(docs: DataFrame) -> DataFrame:
    return (
        docs.select(words("text").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(F.explode(F.expr(_BIGRAM)).alias("bigram"))
    )


def _bigrams(t: Tables) -> DataFrame:
    return _bigrams_of(t["documents"])


def _cell_structs() -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("d"),
                (fold_hash("bigram", seed=d) % CMS_WIDTH).alias("cell"),
            )
            for d in range(CMS_DEPTH)
        ]
    )


def cms_cells_from(docs: DataFrame) -> DataFrame:
    """The sketch itself: (depth, cell) → count, from a documents-shaped
    frame. Works unchanged on a STREAMING frame (the groupBy is a
    standard stateful aggregation whose state is bounded at
    DEPTH x WIDTH rows — a sketch is exactly the kind of aggregate
    that streams forever without state growth)."""
    return (
        _bigrams_of(docs)
        .select(F.explode(_cell_structs()).alias("dc"))
        .groupBy(F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
        .agg(F.count("*").alias("cell_cnt"))
    )


def cms_bigram_check(t: Tables) -> DataFrame:
    """CMS estimates vs exact counts for the top-``CMS_TOPK`` bigrams.

    One row per heavy hitter: exact count, the sketch's min-over-rows
    estimate, and the CMS guarantee ``est >= true`` as a flag — every
    column recomputed identically by the DuckDB oracle (portable hashes),
    so estimate VALUES are hash-matched, not just claimed.

    Batch plan note: the interpreted portable hash is the expensive
    expression here, so this check hashes each DISTINCT bigram once and
    SUMS counts into cells (identical cell totals by associativity —
    4x|vocab| hash evaluations instead of 4x|occurrences|, measured
    4.3 s → sub-second at sf0.1). :func:`cms_cells_from` keeps the
    single-phase per-occurrence fold because a streaming query allows
    only one stateful aggregation — and production CMS ingestion hashes
    per occurrence by definition. The per-bigram count frame is
    persisted once and feeds both the cells and the top-k.
    """
    from ..tables import persist_replacing

    cell_structs = _cell_structs()
    cnt = persist_replacing(
        _bigrams(t).groupBy("bigram").agg(F.count("*").alias("true_cnt")),
        "cms_bigram_counts",
    )
    cells = (
        cnt.select("true_cnt", F.explode(cell_structs).alias("dc"))
        .groupBy(F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
        .agg(F.sum("true_cnt").alias("cell_cnt"))
    )
    top = cnt.orderBy(F.col("true_cnt").desc(), "bigram").limit(CMS_TOPK)
    topx = top.select(
        "bigram", "true_cnt", F.explode(cell_structs).alias("dc")
    ).select("bigram", "true_cnt", F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
    return (
        cells.join(F.broadcast(topx), ["d", "cell"])
        .groupBy("bigram", "true_cnt")
        .agg(F.min("cell_cnt").alias("est_cnt"))
        .select(
            "bigram",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("true_cnt")).alias("ge_ok"),
        )
    )


#: standalone cells oracle — shared by the streaming twin
#: (``registry.streaming_cms_cells``), which drains the same aggregation
#: as a Structured Streaming query
CELLS_ORACLE = f"""
    WITH wl AS (
      SELECT string_split_regex(trim(text), '\\s+') AS ws FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM wl WHERE len(ws) >= 2
    ),
    depths AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d)
    SELECT d, {fold_hash_duck("bigram", seed="d")} % {CMS_WIDTH} AS cell,
           CAST(count(*) AS BIGINT) AS cell_cnt
    FROM bg, depths GROUP BY 1, 2
"""



#: KMV (k-minimum-values) sketch size per set. Error of the Jaccard
#: estimate is ~sqrt(J(1-J)/K) — K=64 gives ~6 pp worst case.
KMV_K = 64
#: tolerance of the estimate vs exact, in basis points (≈3 sigma)
KMV_TOL_BP = 2000

#: gate-grade multiplicative congruential hash (same constants and
#: rationale as mixing.GATE_A/GATE_B: the affine char-fold is rank-grade
#: but NOT uniform on sequential integer keys, and KMV needs uniform
#: order statistics; (id mod P)·A stays under 10^18 so both engines
#: compute it exactly in BIGINT)
_KMV_A, _KMV_B = 736_338_717, 198_491_317


def _kmv_hash(col: str) -> Column:
    return F.expr(f"(({col} % {HASH_MOD}) * {_KMV_A} + {_KMV_B}) % {HASH_MOD}")


def kmv_type_overlap(t: Tables) -> DataFrame:
    """Distinct-set OVERLAP between event types via KMV sketches — the
    set operation the HLL family can't do (HLLs union but don't
    intersect; ``events_analytics.hll_vs_exact_distinct`` covers plain
    cardinality). One row per event-type pair: exact audience overlap
    (count + Jaccard) next to the KMV estimate and a within-tolerance
    claim flag, every column recomputed by DuckDB (the hash is the
    portable multiplicative-congruential one), so estimate VALUES are
    part of the driver-hashed contract.

    KMV estimator: each type keeps its K smallest distinct user-id hash
    values; for a pair, take the K smallest of the sketch union and count
    how many sit in BOTH sketches — that fraction estimates Jaccard
    (Beyer et al., "On synopses for distinct-value estimation under
    multiset operations").

    Scale shape: the ONLY corpus-sized work is the distinct
    (type, user) aggregation; the per-type top-K is a bounded window over
    per-type hash values, and all pair math runs on |types|²·K-element
    arrays. The exact self-join side exists to state the claim as
    checkable data — production reads the sketch columns alone, state
    K·|types| forever (the sketch is mergeable, so it also runs as a
    streaming fold or a datasketches-style rollup).
    """
    from pyspark.sql import Window

    from ..tables import persist_replacing

    du = persist_replacing(
        t["events"].select("event_type", "user_id").distinct(), "kmv_du"
    )
    n = du.groupBy("event_type").agg(F.count("*").alias("n"))
    pairs = (
        n.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
        .crossJoin(
            n.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
        )
        .where(F.col("type_a") < F.col("type_b"))
    )
    a, b = du.alias("a"), du.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    hashed = du.select("event_type", _kmv_hash("user_id").alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.select("event_type", "h", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    est = (
        sk.select(F.col("event_type").alias("type_a"), F.col("hs").alias("hs_a"))
        .join(
            sk.select(
                F.col("event_type").alias("type_b"), F.col("hs").alias("hs_b")
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .select(
            "type_a",
            "type_b",
            F.expr(
                f"slice(array_sort(array_union(hs_a, hs_b)), 1, {KMV_K})"
            ).alias("merged"),
            "hs_a",
            "hs_b",
        )
        .select(
            "type_a",
            "type_b",
            F.expr(
                "size(filter(merged, x -> array_contains(hs_a, x)"
                " AND array_contains(hs_b, x)))"
            ).alias("n_in_both"),
            F.size("merged").alias("n_merged"),
        )
    )
    # pair-grid, overlap-count, and sketch-estimate frames are all
    # ≤|types|² rows but sit behind aggregates Catalyst has no stats for —
    # hint them broadcast so the static plan never sort-merges
    return (
        pairs.join(F.broadcast(common), ["type_a", "type_b"], "left")
        .join(F.broadcast(est), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.expr(
                "10000 * coalesce(n_common, 0)"
                " DIV (n_a + n_b - coalesce(n_common, 0))"
            ).alias("jaccard_bp_exact"),
            F.expr("10000 * n_in_both DIV n_merged").alias("jaccard_bp_est"),
        )
        .withColumn(
            "est_ok",
            F.abs(F.col("jaccard_bp_est") - F.col("jaccard_bp_exact"))
            <= KMV_TOL_BP,
        )
    )




#: per-depth multipliers for the integer-key CMS (LCG-derived like
#: dedup._minhash_coeffs; each odd, < HASH_MOD, so (key%MOD)*A < 1e18
#: stays inside int64 in both engines)
CMS_KEY_AS = (736_338_717, 890_588_165, 214_580_541, 443_804_041)
CMS_KEY_B = 198_491_317


def _key_cell(col: str, d: int) -> Column:
    a = CMS_KEY_AS[d]
    return F.expr(
        f"((({col} % {HASH_MOD}) * {a} + {CMS_KEY_B}) % {HASH_MOD})"
        f" % {CMS_WIDTH}"
    )


def _key_cells(cnt: DataFrame) -> DataFrame:
    """(d, cell) → summed count from a per-key count frame (cols k, c) —
    the CMS of a join key, built from the per-key count aggregate
    (identical cell totals to per-occurrence folding by associativity,
    |distinct keys| hash evaluations instead of |rows|). Callers pass the
    PINNED per-key frame so the sketch, the exact-join branch, and the
    row-count branch all share one corpus scan per side."""
    cells = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("d"), _key_cell("k", d).alias("cell")
            )
            for d in range(CMS_DEPTH)
        ]
    )
    return (
        cnt.select("c", F.explode(cells).alias("dc"))
        .groupBy(F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
        .agg(F.sum("c").alias("cnt"))
    )


def cms_join_size_check(t: Tables) -> DataFrame:
    """Join-cardinality estimation via CMS inner product — the classic
    planner use of the count-min sketch (estimate |A ⋈ B| without
    touching the join): est_d = Σ_cell a_d[cell]·b_d[cell], est = min_d.
    Checked here on events.user_id ⋈ orders.o_custkey with the exact join
    size computed alongside, plus the two CMS guarantees as data:
    ``ge_ok`` (est ≥ exact, always — colliding keys only ADD mass) and
    ``bound_ok`` (est − exact ≤ 4·n_a·n_b/width: Markov at 4× the
    expected collision excess per depth, and the min over 4 independent
    depths). Every number is integer arithmetic over portable hashes, so
    the DuckDB oracle hash-matches the estimate itself.

    Scale shape: each side reduces to per-key counts (one map-combinable
    shuffle each — at 100 TB these aggregations are the join's own
    build-side stats pass), then to DEPTH×WIDTH cells; the inner product
    runs on sketch-sized frames. The exact join exists only to state the
    claim as checkable data.
    """
    from ..tables import persist_replacing

    pk_a = persist_replacing(
        t["events"].groupBy(F.col("user_id").alias("k")).agg(
            F.count("*").alias("c")
        ),
        "cms_join_pk_a",
    )
    pk_b = persist_replacing(
        t["orders"].groupBy(F.col("o_custkey").alias("k")).agg(
            F.count("*").alias("c")
        ),
        "cms_join_pk_b",
    )
    a = _key_cells(pk_a)
    b = _key_cells(pk_b)
    est = (
        a.join(
            b.select("d", "cell", F.col("cnt").alias("cnt_b")), ["d", "cell"]
        )
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("est_d"))
        .agg(F.min("est_d").alias("est_join_rows"))
    )
    exact = (
        pk_a.select("k", F.col("c").alias("c_a"))
        .join(pk_b.select("k", F.col("c").alias("c_b")), "k")
        .agg(F.coalesce(F.sum(F.col("c_a") * F.col("c_b")), F.lit(0)).alias(
            "exact_join_rows"
        ))
    )
    na = pk_a.agg(F.sum("c").alias("n_a"))
    nb = pk_b.agg(F.sum("c").alias("n_b"))
    return (
        na.crossJoin(nb)
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
        .select(
            "n_a",
            "n_b",
            "exact_join_rows",
            "est_join_rows",
            (F.col("est_join_rows") >= F.col("exact_join_rows")).alias("ge_ok"),
            (
                (F.col("est_join_rows") - F.col("exact_join_rows"))
                * CMS_WIDTH
                <= 4 * F.col("n_a") * F.col("n_b")
            ).alias("bound_ok"),
        )
    )


#: DuckDB replay of the per-type KMV sketch rows (event_type, h) — shared
#: by the streaming twin (``registry.streaming_kmv_sketch``), whose drained
#: final state must equal the batch sketch exactly.
KMV_SKETCH_ORACLE = f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ((user_id % {HASH_MOD}) * {_KMV_A} + {_KMV_B}) % {HASH_MOD} AS h
      FROM events
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM h
    )
    SELECT event_type, CAST(h AS BIGINT) AS h
    FROM rk WHERE rk <= {KMV_K}
"""


def make_kmv_state_fn(k: int = KMV_K):
    """applyInPandasWithState function maintaining a per-key KMV sketch.

    State is the sorted K-smallest DISTINCT hash list plus a
    monotonically-increasing ingest counter; each invocation (= each
    micro-batch containing the key) merges the batch's hashes and emits
    the whole current sketch tagged with the counter, so the LAST
    emission per key (max ``n_seen``) is the final sketch no matter how
    file arrival slices the stream. The merge is associative and
    commutative — exactly why a KMV survives as distributed streaming
    state while an exact distinct-set would grow without bound: state is
    ≤ K longs per key forever.
    """

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            hs, n_seen = state.get
            cur = set(hs)
        else:
            cur, n_seen = set(), 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            cur.update(int(v) for v in pdf["h"])
        merged = sorted(cur)[:k]
        state.update((merged, n_seen))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n_seen],
                "hs": [merged],
            }
        )

    return fn


def kmv_sketch_stream(events: DataFrame) -> DataFrame:
    """The KMV sketch maintained BY a stream (events-shaped frame) —
    custom bounded state via applyInPandasWithState, emitting the current
    sketch per key per batch. Post-process with
    :func:`latest_kmv_emission` after draining."""
    from pyspark.sql import types as T

    hashed = events.select("event_type", _kmv_hash("user_id").alias("h"))
    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("hs", T.ArrayType(T.LongType())),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("hs", T.ArrayType(T.LongType())),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    return hashed.groupBy("event_type").applyInPandasWithState(
        make_kmv_state_fn(),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def latest_kmv_emission(drained: DataFrame) -> DataFrame:
    """Final sketch rows (event_type, h) from the accumulated per-batch
    emissions: keep each key's max-``n_seen`` row, explode its array."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    return (
        drained.select(
            "event_type", "hs", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") == 1)
        .select("event_type", F.explode("hs").alias("h"))
    )


ORACLES: dict[str, str] = {
    "cms_join_size_check": f"""
        WITH ca AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        cb AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        depths AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d,
                          unnest({list(CMS_KEY_AS)}) AS a),
        cells_a AS (
          SELECT d, (((k % {HASH_MOD}) * a + {CMS_KEY_B}) % {HASH_MOD})
                    % {CMS_WIDTH} AS cell, sum(c) AS cnt
          FROM ca, depths GROUP BY 1, 2
        ),
        cells_b AS (
          SELECT d, (((k % {HASH_MOD}) * a + {CMS_KEY_B}) % {HASH_MOD})
                    % {CMS_WIDTH} AS cell, sum(c) AS cnt
          FROM cb, depths GROUP BY 1, 2
        ),
        est AS (
          SELECT CAST(min(est_d) AS BIGINT) AS est_join_rows FROM (
            SELECT a.d, sum(a.cnt * b.cnt) AS est_d
            FROM cells_a a JOIN cells_b b ON a.d = b.d AND a.cell = b.cell
            GROUP BY a.d
          )
        ),
        ex AS (
          SELECT CAST(coalesce(sum(ca.c * cb.c), 0) AS BIGINT)
                   AS exact_join_rows
          FROM ca JOIN cb ON ca.k = cb.k
        ),
        n AS (SELECT (SELECT count(*) FROM events) AS n_a,
                     (SELECT count(*) FROM orders) AS n_b)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               exact_join_rows, est_join_rows,
               est_join_rows >= exact_join_rows AS ge_ok,
               (est_join_rows - exact_join_rows) * 1024
                 <= 4 * n_a * n_b AS bound_ok
        FROM n, ex, est
    """,
    "kmv_type_overlap": f"""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        n AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
        pairs AS (
          SELECT a.event_type AS type_a, a.n AS n_a,
                 b.event_type AS type_b, b.n AS n_b
          FROM n a, n b WHERE a.event_type < b.event_type
        ),
        cm AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*) AS n_common
          FROM du a JOIN du b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        ),
        h AS (
          SELECT DISTINCT event_type,
                 ((user_id % {HASH_MOD}) * {_KMV_A} + {_KMV_B}) % {HASH_MOD} AS h
          FROM du
        ),
        rk AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM h
        ),
        sk AS (
          SELECT event_type, list_sort(list(h)) AS hs
          FROM rk WHERE rk <= 64 GROUP BY 1
        ),
        est AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 len(list_filter(
                   list_sort(list_distinct(list_concat(a.hs, b.hs)))[1:64],
                   x -> list_contains(a.hs, x) AND list_contains(b.hs, x)))
                   AS n_in_both,
                 len(list_sort(list_distinct(list_concat(a.hs, b.hs)))[1:64])
                   AS n_merged
          FROM sk a, sk b WHERE a.event_type < b.event_type
        )
        SELECT p.type_a, p.type_b,
               CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
               CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
               CAST(10000 * coalesce(cm.n_common, 0)
                    // (p.n_a + p.n_b - coalesce(cm.n_common, 0)) AS BIGINT)
                 AS jaccard_bp_exact,
               CAST(10000 * e.n_in_both // e.n_merged AS BIGINT)
                 AS jaccard_bp_est,
               abs(10000 * e.n_in_both // e.n_merged
                   - 10000 * coalesce(cm.n_common, 0)
                     // (p.n_a + p.n_b - coalesce(cm.n_common, 0)))
                 <= 2000 AS est_ok
        FROM pairs p
        LEFT JOIN cm ON cm.type_a = p.type_a AND cm.type_b = p.type_b
        JOIN est e ON e.type_a = p.type_a AND e.type_b = p.type_b
    """,
    "cms_bigram_check": f"""
        WITH wl AS (
          SELECT string_split_regex(trim(text), '\\s+') AS ws FROM documents
        ),
        bg AS (
          SELECT unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
          FROM wl WHERE len(ws) >= 2
        ),
        depths AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d),
        cells AS (
          SELECT d, {fold_hash_duck("bigram", seed="d")} % {CMS_WIDTH} AS cell,
                 CAST(count(*) AS BIGINT) AS cell_cnt
          FROM bg, depths GROUP BY 1, 2
        ),
        top AS (
          SELECT bigram, CAST(count(*) AS BIGINT) AS true_cnt
          FROM bg GROUP BY 1
          ORDER BY true_cnt DESC, bigram LIMIT {CMS_TOPK}
        )
        SELECT t.bigram, t.true_cnt,
               CAST(min(c.cell_cnt) AS BIGINT) AS est_cnt,
               min(c.cell_cnt) >= t.true_cnt AS ge_ok
        FROM top t
        JOIN cells c
          ON c.cell = {fold_hash_duck("t.bigram", seed="c.d")} % {CMS_WIDTH}
        GROUP BY 1, 2
    """,
}

QUERIES = {
    "cms_bigram_check": cms_bigram_check,
    "cms_join_size_check": cms_join_size_check,
    "kmv_type_overlap": kmv_type_overlap,
}
