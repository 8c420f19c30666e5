"""Feature-engineering operators for model-training pipelines: weight-of-
evidence binning and leakage-safe out-of-fold target encoding.

Both operate on ``events`` with the binary target ``event_type =
'purchase'`` (the conversion the funnel queries track) — the shapes, not
the specific columns, are the operators.

- :func:`woe_value_bins` — weight of evidence / information value per
  ``value`` bucket: ``WOE_b = ln((good_b/good_tot)/(bad_b/bad_tot))``,
  ``IV_b = (good_b/good_tot − bad_b/bad_tot)·WOE_b`` with add-one
  (Laplace) counts so empty cells stay finite. THE classic supervised
  binning diagnostic: which value ranges separate converters from
  non-converters, and is the feature worth keeping (ΣIV).
- :func:`target_encode_oof` — K-fold out-of-fold target encoding: each
  (category, fold) cell gets the target mean computed from the OTHER
  folds — ``(tot_sum − fold_sum) / (tot_cnt − fold_cnt)`` — the standard
  leakage-safe mean encoding (a row never sees its own fold's labels).
  Folds are assigned by a portable integer hash of ``event_id``.

Scale (100 TB): each is ONE map-side-combined groupBy on a bounded key
(value buckets; category × K folds) followed by O(1)-to-tiny arithmetic
— no joins against the corpus, no per-row output. Target encoding's
complement trick (total − fold) avoids the K-way self-join a naive
out-of-fold implementation does.

Determinism: ``target_encode_oof`` is ALL-integer (means emitted in
basis points via integer division) — bit-exact. ``woe_value_bins``
has ONE ``ln`` per bucket of an exact integer rational (the accepted
≤1-ulp libm class, same as ``lm_bigram_nll``), emitted floored to
micro-units; the IV product is formed from the same quarantined values
on both engines in the same op order.

Reference scope note: the reference project (``/root/reference``,
Task2-4/Client.py) has no featurization surface; this extends the
engine for the training-data use case per SURVEY.md §7 phase 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Tables = dict[str, DataFrame]

#: the binary target both operators score against
TARGET_TYPE = "purchase"

#: value-bucket width for WOE binning
WOE_BUCKET = 50

#: fold count for out-of-fold target encoding
TE_FOLDS = 5

#: portable fold hash: Park–Miller minimal standard Lehmer permutation of
#: a BIGINT id; (2^31-2)·48271 < 2^63, so the product is overflow-safe
#: BIGINT arithmetic, identical in both engines
_LEHMER_MOD = 2147483647
_LEHMER_MUL = 48271


def woe_iv_projection(cells: DataFrame) -> DataFrame:
    """WOE/IV post-aggregation over a ``(bucket, n_good, n_bad)`` cells
    frame: broadcast the 1-row totals, one quarantined ``ln`` of the
    exact integer cross-ratio per bucket, micro-floor the outputs.

    Shared by :func:`woe_value_bins` and the streaming twin
    (``registry.streaming_woe_value_bins``) so the stream/batch-parity
    claim rests on ONE copy of the arithmetic.
    """
    tot = cells.agg(
        F.sum("n_good").alias("good_tot"),
        F.sum("n_bad").alias("bad_tot"),
        F.count("*").alias("n_buckets"),
    )
    # add-one smoothing: rate_g = (n_good+1)/(good_tot+B); one ln of the
    # exact integer cross-ratio per bucket
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_good",
            "n_bad",
            F.log(
                (
                    (F.col("n_good") + 1) * (F.col("bad_tot") + F.col("n_buckets"))
                ).cast("double")
                / (
                    (F.col("n_bad") + 1) * (F.col("good_tot") + F.col("n_buckets"))
                ).cast("double")
            ).alias("woe"),
            (
                (F.col("n_good") + 1).cast("double")
                / (F.col("good_tot") + F.col("n_buckets"))
                - (F.col("n_bad") + 1).cast("double")
                / (F.col("bad_tot") + F.col("n_buckets"))
            ).alias("dr"),
        )
        .select(
            "bucket",
            "n_good",
            "n_bad",
            F.floor(1000000 * F.col("woe")).cast("long").alias("woe_micro"),
            F.floor(1000000 * (F.col("dr") * F.col("woe")))
            .cast("long")
            .alias("iv_micro"),
        )
    )


def woe_value_bins(t: Tables) -> DataFrame:
    """Per-``value``-bucket weight of evidence and information value.

    Output: ``bucket``, ``n_good``, ``n_bad`` (raw counts),
    ``woe_micro`` = ``floor(1e6·WOE)``, ``iv_micro`` = ``floor(1e6·IV)``
    with add-one smoothing inside the rate ratio. NULL ``value`` forms
    its own bucket (missingness is usually the most predictive bin).
    """
    return woe_iv_projection(woe_cells(t["events"]))


def woe_cells(events: DataFrame) -> DataFrame:
    """``(bucket, n_good, n_bad)``: target and non-target rows per value
    bucket — conditional sums, so the streaming twin runs it as is."""
    ev = events.select(
        F.floor(F.col("value") / WOE_BUCKET).cast("long").alias("bucket"),
        F.when(F.col("event_type") == TARGET_TYPE, 1).otherwise(0).alias("g"),
    )
    return ev.groupBy("bucket").agg(
        F.sum("g").alias("n_good"),
        F.sum(1 - F.col("g")).alias("n_bad"),
    )


def target_encode_oof(t: Tables) -> DataFrame:
    """K-fold out-of-fold target encoding of ``event_type``'s sibling
    categorical — here the (event_type-independent) ``user_id % 100``
    cohort — against the purchase target.

    Output: one row per (category, fold): ``category``, ``fold``,
    ``n_rows`` (cell size), ``oof_mean_bp`` = out-of-fold target mean in
    basis points (NULL when the complement is empty — a single-fold
    category has no leakage-safe encoding). All-integer, bit-exact.
    """
    ev = t["events"].select(
        (F.col("user_id") % 100).alias("category"),
        (
            (F.col("event_id") % _LEHMER_MOD) * _LEHMER_MUL % _LEHMER_MOD % TE_FOLDS
        ).alias("fold"),
        F.when(F.col("event_type") == TARGET_TYPE, 1).otherwise(0).alias("y"),
    )
    cells = ev.groupBy("category", "fold").agg(
        F.count("*").alias("n_rows"), F.sum("y").alias("y_sum")
    )
    totals = cells.groupBy("category").agg(
        F.sum("n_rows").alias("tot_rows"), F.sum("y_sum").alias("tot_y")
    )
    return (
        cells.join(totals, "category")
        .select(
            "category",
            "fold",
            "n_rows",
            F.expr(
                "CASE WHEN tot_rows > n_rows"
                " THEN (tot_y - y_sum) * 10000 DIV (tot_rows - n_rows) END"
            ).alias("oof_mean_bp"),
        )
    )


def mutual_info_type_bucket(t: Tables) -> DataFrame:
    """Mutual information between ``event_type`` and the ``value`` bucket
    — the feature-relevance screen next to WOE (which is binary-target
    only; MI handles the full multi-class contingency).

    ``MI = Σ_ij (n_ij/n) · ln(n·n_ij / (n_i·n_j))``, reported per
    event_type as that type's partial sum — each cell's term is floored
    to micro units FIRST, so the per-type sum is an exact integer
    reduction and the single quarantined ``ln`` per cell (of a ratio of
    exactly-represented doubles — integer counts ≤ 2^53, products taken
    in double so nothing overflows) is the only libm call, same class as
    :func:`woe_value_bins`. Zero cells contribute nothing (the standard
    0·ln0 = 0 convention) by construction — absent (bucket, type) pairs
    never materialize.

    Plan: one map-side-combined groupBy to the contingency cells
    (≤ buckets×types rows); the margins are two aggregations OVER THE
    CELLS (not the corpus) broadcast back. One input-sized shuffle total.

    Output per type: ``event_type``, ``n_type_rows``, ``n_cells``,
    ``mi_part_micro`` (Σ floor(1e6·term), negative terms allowed).
    """
    return mi_projection(mi_cells(t["events"]))


def mi_cells(events: DataFrame) -> DataFrame:
    """``(bucket, event_type, n_ij)``: the value-bucket × type contingency
    counts — a plain count, so the streaming twin runs it as is."""
    ev = events.select(
        F.floor(F.col("value") / WOE_BUCKET).cast("long").alias("bucket"),
        "event_type",
    )
    return ev.groupBy("bucket", "event_type").agg(F.count("*").alias("n_ij"))


def mi_projection(cells: DataFrame) -> DataFrame:
    """Margins + per-cell micro-floored MI terms over a
    ``(bucket, event_type, n_ij)`` contingency frame — shared by
    :func:`mutual_info_type_bucket` and the streaming twin
    (``registry.streaming_mutual_info``) so the two cannot drift."""
    # margin keys are re-aliased so joining the margins back onto the
    # SAME cells frame (including a drained memory-sink view, where every
    # branch shares attribute ids) never trips self-join ambiguity
    bt = (
        cells.select(F.col("bucket").alias("b_key"), "n_ij")
        .groupBy("b_key")
        .agg(F.sum("n_ij").alias("n_i"))
    )
    tt = (
        cells.select(F.col("event_type").alias("t_key"), "n_ij")
        .groupBy("t_key")
        .agg(F.sum("n_ij").alias("n_j"))
    )
    tot = cells.agg(F.sum("n_ij").alias("n"))
    term = F.floor(
        F.lit(1000000.0)
        * (F.col("n_ij").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("n").cast("double") * F.col("n_ij").cast("double"))
            / (F.col("n_i").cast("double") * F.col("n_j").cast("double"))
        )
    ).cast("long")
    return (
        cells.join(F.broadcast(bt), F.col("bucket") == F.col("b_key"))
        .join(F.broadcast(tt), F.col("event_type") == F.col("t_key"))
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            F.first("n_j").alias("n_type_rows"),
            F.count("*").alias("n_cells"),
            F.sum(term).alias("mi_part_micro"),
        )
    )


QUERIES = {
    "woe_value_bins": woe_value_bins,
    "target_encode_oof": target_encode_oof,
    "mutual_info_type_bucket": mutual_info_type_bucket,
}

ORACLES: dict[str, str] = {
    "woe_value_bins": f"""
        WITH ev AS (
          SELECT CAST(floor(value / {WOE_BUCKET}) AS BIGINT) AS bucket,
                 CASE WHEN event_type = '{TARGET_TYPE}' THEN 1 ELSE 0 END AS g
          FROM events
        ),
        cells AS (
          SELECT bucket, sum(g) AS n_good, sum(1 - g) AS n_bad
          FROM ev GROUP BY bucket
        ),
        tot AS (
          SELECT sum(n_good) AS good_tot, sum(n_bad) AS bad_tot,
                 count(*) AS n_buckets
          FROM cells
        )
        SELECT bucket,
               CAST(n_good AS BIGINT) AS n_good,
               CAST(n_bad AS BIGINT) AS n_bad,
               CAST(floor(1000000 * ln(
                      CAST((n_good + 1) * (bad_tot + n_buckets) AS DOUBLE)
                      / CAST((n_bad + 1) * (good_tot + n_buckets) AS DOUBLE)))
                    AS BIGINT) AS woe_micro,
               CAST(floor(1000000 * (
                      (CAST(n_good + 1 AS DOUBLE) / (good_tot + n_buckets)
                       - CAST(n_bad + 1 AS DOUBLE) / (bad_tot + n_buckets))
                      * ln(CAST((n_good + 1) * (bad_tot + n_buckets) AS DOUBLE)
                           / CAST((n_bad + 1) * (good_tot + n_buckets)
                                  AS DOUBLE))))
                    AS BIGINT) AS iv_micro
        FROM cells, tot
    """,
    "mutual_info_type_bucket": f"""
        WITH ev AS (
          SELECT CAST(floor(value / {WOE_BUCKET}) AS BIGINT) AS bucket,
                 event_type
          FROM events
        ),
        cells AS (
          SELECT bucket, event_type, count(*) AS n_ij
          FROM ev GROUP BY 1, 2
        ),
        bt AS (
          SELECT bucket, CAST(sum(n_ij) AS BIGINT) AS n_i
          FROM cells GROUP BY bucket
        ),
        tt AS (
          SELECT event_type, CAST(sum(n_ij) AS BIGINT) AS n_j
          FROM cells GROUP BY event_type
        ),
        tot AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM cells)
        SELECT c.event_type,
               any_value(t.n_j) AS n_type_rows,
               count(*) AS n_cells,
               CAST(sum(CAST(floor(
                 1000000.0
                 * (CAST(c.n_ij AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * ln((CAST(tot.n AS DOUBLE) * CAST(c.n_ij AS DOUBLE))
                      / (CAST(b.n_i AS DOUBLE) * CAST(t.n_j AS DOUBLE)))
               ) AS BIGINT)) AS BIGINT) AS mi_part_micro
        FROM cells c
        JOIN bt b USING (bucket)
        JOIN tt t USING (event_type)
        CROSS JOIN tot
        GROUP BY c.event_type
    """,
    "target_encode_oof": f"""
        WITH ev AS (
          SELECT user_id % 100 AS category,
                 (event_id % {_LEHMER_MOD}) * {_LEHMER_MUL}
                   % {_LEHMER_MOD} % {TE_FOLDS} AS fold,
                 CASE WHEN event_type = '{TARGET_TYPE}' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        cells AS (
          SELECT category, fold, count(*) AS n_rows, sum(y) AS y_sum
          FROM ev GROUP BY category, fold
        ),
        totals AS (
          SELECT category, sum(n_rows) AS tot_rows, sum(y_sum) AS tot_y
          FROM cells GROUP BY category
        )
        SELECT c.category, c.fold,
               CAST(c.n_rows AS BIGINT) AS n_rows,
               CAST(CASE WHEN t.tot_rows > c.n_rows
                         THEN (t.tot_y - c.y_sum) * 10000
                              // (t.tot_rows - c.n_rows) END
                    AS BIGINT) AS oof_mean_bp
        FROM cells c JOIN totals t USING (category)
    """,
}
