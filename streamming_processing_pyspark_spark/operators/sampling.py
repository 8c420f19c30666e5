"""Weighted sampling and rule-based quality gating for training-data
curation.

- ``weighted_sample_per_lang`` — one-pass distributed weighted sampling
  without replacement (Efraimidis–Spirakis exponential race): each doc
  draws a deterministic uniform from a SQL-portable hash and competes with
  key ``-ln(u) / w`` (w = token count); the N smallest keys per language
  win. This is THE primitive behind "sample k docs per language with
  probability proportional to length/quality" in data-mixing pipelines,
  and it needs no global sort: the per-group top-N compiles to
  WindowGroupLimit, so every input partition pre-prunes to N rows per
  language before the single shuffle — O(N × languages) rows move, not
  the corpus.
- ``gopher_quality_flags`` — the Gopher/MassiveText repetition-free
  quality rules as per-document boolean flags plus the conjunctive keep
  decision. Every ratio test is integer cross-multiplied (e.g. mean word
  length in [3, 10] is checked as ``3·words ≤ chars ≤ 10·words``), so
  both engines agree bit-for-bit and the whole filter is a map-only scan
  projection — zero shuffles, zero Python.

Reference scope note: the reference project (``/root/reference``,
Task2-4/Client.py) has no sampling or curation surface; these extend the
engine for the 100 TB training-data use case per the build plan
(SURVEY.md §7 phase 4).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD, fold_hash, fold_hash_duck
from .distribution import cdf_buckets

Tables = dict[str, DataFrame]

#: sample size per language for weighted_sample_per_lang
SAMPLE_PER_LANG = 25

#: Gopher-style rule thresholds (scaled to the synthetic corpus: docs are
#: 10-99 whitespace tokens; real MassiveText bounds are 50/100k words)
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 10_000
GOPHER_MIN_MWL = 3  # mean word length lower bound (chars/word)
GOPHER_MAX_MWL = 10  # mean word length upper bound
#: ≥ 80% of words must contain an alphabetic character (num/den)
ALPHA_NUM, ALPHA_DEN = 4, 5


def _doc_hash() -> Column:
    """Portable per-doc uniform hash in [0, HASH_MOD): the affine
    character fold (``functions.text.fold_hash``) of the decimal doc_id
    string, so DuckDB replays it exactly."""
    return fold_hash("CAST(doc_id AS STRING)")


def weighted_sample_per_lang(t: Tables) -> DataFrame:
    """Top-``SAMPLE_PER_LANG`` docs per language by exponential race.

    A-ES weighted sampling without replacement: u = (h+1)/(MOD+1) ∈ (0,1],
    key = -ln(u)/w with w = whitespace token count, winners = smallest N
    keys per language. Deterministic (hash-derived u), single shuffle
    (the WindowGroupLimit pre-prunes each task to N rows per lang), and
    the float key is NOT part of the output — ranks are insensitive to
    the ≤1-ulp cross-engine ``ln`` difference except when two keys
    coincide to ~1e-16 relative, the same accepted boundary-flip class
    documented for ``udtf._geomean``.
    """
    d = t["documents"].select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        _doc_hash().alias("h"),
    )
    key = -F.log((F.col("h") + 1) / F.lit(float(HASH_MOD + 1))) / F.col("n_tokens")
    w = Window.partitionBy("lang").orderBy(key.asc(), "doc_id")
    return (
        d.select("doc_id", "lang", "n_tokens", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= SAMPLE_PER_LANG)
        .select("doc_id", "lang", "n_tokens")
    )


def _gopher_cols() -> tuple[Column, Column, Column]:
    """(n_words, n_chars, alpha_words) as pure Columns over ``text`` —
    the Gopher metrics, factored so composed pipelines
    (:mod:`campaign`) can gate map-side on the scan instead of joining
    the flags frame."""
    words = F.split(F.trim("text"), r"\s+")
    n_words = F.size(words).cast("long")
    # total characters across words == len(trim) - (words-1) separators is
    # wrong for multi-space runs; sum the token lengths instead
    n_chars = F.expr(
        "aggregate(transform(split(trim(text), '\\\\s+'), w -> length(w)),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    alpha_words = F.expr(
        "size(filter(split(trim(text), '\\\\s+'), w -> w rlike '[a-z]'))"
    ).cast("long")
    return n_words, n_chars, alpha_words


def gopher_keep_col() -> Column:
    """The conjunctive Gopher keep decision as ONE Column over ``text``."""
    n_words, n_chars, alpha_words = _gopher_cols()
    ok_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (F.lit(GOPHER_MIN_MWL) * n_words <= n_chars) & (
        n_chars <= F.lit(GOPHER_MAX_MWL) * n_words
    )
    ok_alpha = F.lit(ALPHA_DEN) * alpha_words >= F.lit(ALPHA_NUM) * n_words
    return ok_wc & ok_mwl & ok_alpha


def gopher_quality_flags(t: Tables) -> DataFrame:
    """Gopher/MassiveText rule flags per document, map-only and exact.

    Flags (all integer arithmetic, no float ratios):
    - ``ok_word_count``: GOPHER_MIN_WORDS ≤ words ≤ GOPHER_MAX_WORDS
    - ``ok_mean_word_len``: 3 ≤ (chars in words)/words ≤ 10, tested as
      ``3·words ≤ chars AND chars ≤ 10·words``
    - ``ok_alpha_words``: ≥ 80% of words contain [a-z], tested as
      ``5·alpha_words ≥ 4·words``
    - ``keep`` = conjunction of the three.
    ``mean_word_len_milli`` = floor(1000·chars/words) is emitted so the
    distribution itself is oracle-checked, not just the booleans.
    """
    n_words, n_chars, alpha_words = _gopher_cols()
    ok_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (F.lit(GOPHER_MIN_MWL) * n_words <= n_chars) & (
        n_chars <= F.lit(GOPHER_MAX_MWL) * n_words
    )
    ok_alpha = F.lit(ALPHA_DEN) * alpha_words >= F.lit(ALPHA_NUM) * n_words
    return t["documents"].select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(n_chars * 1000 / n_words).cast("long").alias("mean_word_len_milli"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        (ok_wc & ok_mwl & ok_alpha).alias("keep"),
    )


def _score_and_gate(t: Tables) -> DataFrame:
    """ONE ``documents`` scan evaluating BOTH quality filters: the learned
    classifier score and the Gopher rule gate are each map-only functions
    of ``text``, so computing them in a single projection removes the
    doc-keyed join (and its shuffle) plus the second full corpus scan the
    two-frames-joined formulation paid — at 100 TB the dominant cost of
    every classifier-vs-gate rollout query (VERDICT r6 §2)."""
    from .curation import classifier_score_col

    return t["documents"].select(
        "doc_id",
        classifier_score_col().alias("score"),
        gopher_keep_col().alias("k_rule"),
    )


def filter_agreement_kappa(t: Tables) -> DataFrame:
    """Cohen's kappa between the two independent quality filters (the
    hashed-feature classifier's ``keep`` vs the Gopher rule gate's
    ``keep``) — the standard check that a learned filter and a rule
    filter are measuring the same thing before you stack them in a
    pipeline (kappa ≈ 0 → they disagree beyond chance, stacking them
    multiplies attrition arbitrarily).

    All-integer formulation: with confusion counts n00/n01/n10/n11 and
    n total, kappa = (po − pe)/(1 − pe) becomes
    ``10000·(n·(n00+n11) − E) div (n² − E)`` where
    ``E = (n00+n01)·(n00+n10) + (n10+n11)·(n01+n11)`` — so the statistic
    itself hash-matches the oracle. Both filters evaluate in ONE
    documents scan (:func:`_score_and_gate` — no join, no second scan),
    then a single global aggregate.
    """
    j = _score_and_gate(t).select(
        (F.col("score") > 0).alias("k_clf"), "k_rule"
    )
    counts = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((~F.col("k_clf") & ~F.col("k_rule")).cast("long")).alias("n00"),
        F.sum((~F.col("k_clf") & F.col("k_rule")).cast("long")).alias("n01"),
        F.sum((F.col("k_clf") & ~F.col("k_rule")).cast("long")).alias("n10"),
        F.sum((F.col("k_clf") & F.col("k_rule")).cast("long")).alias("n11"),
    )
    return counts.select(
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        # Plain DIV: kappa can be negative (systematic disagreement), and
        # BOTH engines truncate integer division toward zero (Spark DIV;
        # DuckDB // — verified: SELECT (0-5) // 2 = -2 on DuckDB 1.0.0),
        # so truncating semantics are the cross-engine-identical choice.
        F.expr(
            "CASE WHEN n * n > (n00 + n01) * (n00 + n10)"
            " + (n10 + n11) * (n01 + n11)"
            " THEN 10000 * (n * (n00 + n11)"
            "   - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)))"
            " DIV (n * n"
            "   - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)))"
            " END"
        ).alias("kappa_bp"),
    )


def label_balanced_sample(t: Tables) -> DataFrame:
    """Class rebalancing: an equal number of vectors per label, the quota
    being the minority class's count — the standard downsampling move
    before training a classifier on skewed labels.

    Selection is deterministic (portable hash rank within each label, so
    DuckDB replays the exact winner set). Plan: one row_number window
    per label (single hash shuffle of (vec_id, label, hash) — narrow
    rows, never the vectors) plus a 1-row quota aggregate broadcast back.
    At 100 TB the quota is normally an explicit parameter (mixture
    spec); the dynamic min-count form shown here costs one extra tiny
    aggregation branch, nothing corpus-sized.
    """
    emb = t["embeddings"].select(
        "vec_id", "label", fold_hash("CAST(vec_id AS STRING)").alias("h")
    )
    quota = (
        emb.groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("quota"))
    )
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    return (
        emb.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(quota))
        .where(F.col("rk") <= F.col("quota"))
        .select("vec_id", "label")
    )


#: Poisson bootstrap: replicate count and the Poisson(1) CDF cutoffs
#: mapped onto the integer hash range ONCE in Python — both engines then
#: compare integers only, so the resampling weights carry zero
#: cross-engine float risk. P(w=k) = e⁻¹/k!, capped at 5.
BOOT_REPLICATES = 32
#: Lehmer multiplier for the uniformizing permutation (Park–Miller;
#: h < MOD ≈ 1e9 so h·48271 < 5e13 stays far inside int64 in both engines)
_BOOT_MUL = 48271
#: prime per-replicate shift mixed into the per-row hash before the
#: Lehmer rounds ((r+1)·SALT < 4e7, so h0 + shift < 2·MOD — int64-safe)
_BOOT_SALT = 1_000_003
_BOOT_CUTOFFS = tuple(
    int(sum(math.exp(-1.0) / math.factorial(i) for i in range(k + 1)) * HASH_MOD)
    for k in range(5)
)
#: order-statistic indices (1-based) into the sorted replicate means:
#: ~5% / 50% / ~95%
_BOOT_LO = int(0.05 * BOOT_REPLICATES) + 1
_BOOT_MED = BOOT_REPLICATES // 2 + 1
_BOOT_HI = BOOT_REPLICATES - int(0.05 * BOOT_REPLICATES)


def poisson_bootstrap_ci(t: Tables) -> DataFrame:
    """Bootstrap confidence interval for the mean event value per type —
    via the POISSON bootstrap, the resampling scheme that actually
    distributes: classic bootstrap resamples n rows WITH replacement (a
    global shuffle per replicate); Poisson bootstrap instead gives every
    (row, replicate) an independent Poisson(1) weight, so all
    ``BOOT_REPLICATES`` replicates are one map-side weight expansion +
    one combinable aggregation — no resampling shuffle, replicate count
    independent of cluster topology.

    Determinism: the weight is the count of Python-precomputed integer
    CDF cutoffs ≤ a portable uniform in [0, MOD): the affine fold of
    the ``event_id`` string (``functions.text.fold_hash`` recurrence,
    folded ONCE per row), shifted by a prime per replicate and passed
    through TWO Lehmer rounds (``·48271 mod MOD`` twice, overflow-safe
    in int64). The permutation matters: the bare fold is a base-31
    number, monotone in the string, so short ids never reach the upper
    cutoffs and whole replicates would weight to zero — the Lehmer wrap
    spreads it across the full range (production would use xxhash64;
    the portable form keeps the weights oracle-checkable). Pure integer compares in both engines; replicate
    means are integer cents (truncating DIV); the CI is order statistics
    of the ≤``BOOT_REPLICATES`` sorted means. Everything hash-matches
    exactly.

    Output per type: ``n_replicates``, ``boot_lo_cents`` /
    ``boot_median_cents`` / ``boot_hi_cents`` (~5/50/95th percentile
    replicate means).
    """
    ev = t["events"].select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
    )
    # fold the (interpreted, per-character) string hash ONCE per row;
    # each replicate derives its uniform with pure int64 arithmetic —
    # a prime per-replicate shift then the two Lehmer rounds (the
    # string-per-(row, replicate) form cost 32x the fold work)
    base = ev.withColumn("h0", fold_hash("CAST(event_id AS STRING)"))
    reps = base.select(
        "event_type",
        "cents",
        "h0",
        F.explode(
            F.array(*[F.lit(r) for r in range(BOOT_REPLICATES)])
        ).alias("r"),
    )
    mixed = (F.col("h0") + (F.col("r") + 1) * _BOOT_SALT) % HASH_MOD
    hashed = reps.withColumn(
        "h", (mixed * _BOOT_MUL % HASH_MOD) * _BOOT_MUL % HASH_MOD
    )
    w = sum(
        (F.col("h") >= F.lit(cut)).cast("long") for cut in _BOOT_CUTOFFS
    )
    cells = (
        hashed.select("event_type", "r", w.alias("w"), "cents")
        .groupBy("event_type", "r")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("sw"),
            F.sum("w").alias("n"),
        )
        .where(F.col("n") > 0)
        .select("event_type", F.expr("sw DIV n").alias("m"))
    )
    return cells.groupBy("event_type").agg(
        F.count("*").alias("n_replicates"),
        F.element_at(
            F.sort_array(F.collect_list("m")), _BOOT_LO
        ).alias("boot_lo_cents"),
        F.element_at(
            F.sort_array(F.collect_list("m")), _BOOT_MED
        ).alias("boot_median_cents"),
        F.element_at(
            F.sort_array(F.collect_list("m")), _BOOT_HI
        ).alias("boot_hi_cents"),
    )


#: calibration histogram: classifier-score bin width (integer scores)
CAL_BIN_WIDTH = 2


def classifier_calibration_bins(t: Tables) -> DataFrame:
    """Reliability diagram for the learned quality filter: bin documents
    by classifier score, report what fraction of each bin the INDEPENDENT
    Gopher rule gate keeps — the calibration check behind "trust the
    classifier's score as a quality probability" (a well-calibrated
    filter's keep-rate should rise monotonically with score; kappa says
    whether they agree overall, this says WHERE they disagree).

    Both filters evaluate in ONE documents scan (:func:`_score_and_gate`),
    then a fixed-width integer histogram (bin = ``score DIV width``,
    floor semantics from both engines' operators on the possibly-negative
    integer score via explicit floor division) — all-integer, exact basis
    points.

    Output per bin: ``score_bin``, ``n_docs``, ``rule_keep_bp``.
    """
    j = _score_and_gate(t)
    score_bin = F.floor(F.col("score") / F.lit(CAL_BIN_WIDTH)).cast("long")
    return (
        j.groupBy(score_bin.alias("score_bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("k_rule").cast("long")).alias("n_keep"),
        )
        .select(
            "score_bin",
            "n_docs",
            F.expr("10000 * n_keep DIV n_docs").alias("rule_keep_bp"),
        )
    )


QUERIES = {
    "poisson_bootstrap_ci": poisson_bootstrap_ci,
    "classifier_calibration_bins": classifier_calibration_bins,
    "weighted_sample_per_lang": weighted_sample_per_lang,
    "gopher_quality_flags": gopher_quality_flags,
    "filter_agreement_kappa": filter_agreement_kappa,
    "label_balanced_sample": label_balanced_sample,
}

def _kappa_oracle() -> str:
    # compose from the two filters' own oracle SQL so the agreement
    # statistic is checked against exactly the registered semantics
    from .curation import ORACLES as CURATION_ORACLES

    clf_sql = CURATION_ORACLES["quality_classifier_scores"]
    gopher_sql = ORACLES["gopher_quality_flags"]
    return f"""
        WITH clf AS ({clf_sql}),
        rules AS ({gopher_sql}),
        j AS (
          SELECT clf.keep AS k_clf, rules.keep AS k_rule
          FROM clf JOIN rules USING (doc_id)
        ),
        c AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN NOT k_clf AND NOT k_rule THEN 1 ELSE 0 END)
                      AS BIGINT) AS n00,
                 CAST(sum(CASE WHEN NOT k_clf AND k_rule THEN 1 ELSE 0 END)
                      AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN k_clf AND NOT k_rule THEN 1 ELSE 0 END)
                      AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN k_clf AND k_rule THEN 1 ELSE 0 END)
                      AS BIGINT) AS n11
          FROM j
        )
        SELECT n, n00, n01, n10, n11,
               CASE WHEN n * n > (n00 + n01) * (n00 + n10)
                                 + (n10 + n11) * (n01 + n11)
                    THEN CAST(10000 * (n * (n00 + n11)
                          - ((n00 + n01) * (n00 + n10)
                             + (n10 + n11) * (n01 + n11)))
                         // (n * n
                          - ((n00 + n01) * (n00 + n10)
                             + (n10 + n11) * (n01 + n11))) AS BIGINT)
               END AS kappa_bp
        FROM c
    """


ORACLES: dict[str, str] = {
    "weighted_sample_per_lang": f"""
        WITH d AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
                 {fold_hash_duck("CAST(doc_id AS VARCHAR)")} AS h
          FROM documents
        ),
        r AS (
          SELECT doc_id, lang, n_tokens,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY -ln((h + 1) / {float(HASH_MOD + 1)}) / n_tokens,
                            doc_id) AS rk
          FROM d
        )
        SELECT doc_id, lang, n_tokens FROM r WHERE rk <= {SAMPLE_PER_LANG}
    """,
    "gopher_quality_flags": f"""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_words,
                 CAST(list_sum(list_transform(
                        string_split_regex(trim(text), '\\s+'),
                        w -> len(w))) AS BIGINT) AS n_chars,
                 CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                        w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
                   AS alpha_words
          FROM documents
        )
        SELECT doc_id, n_words,
               CAST(floor(n_chars * 1000.0 / n_words) AS BIGINT)
                 AS mean_word_len_milli,
               n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                 AS ok_word_count,
               {GOPHER_MIN_MWL} * n_words <= n_chars
                 AND n_chars <= {GOPHER_MAX_MWL} * n_words
                 AS ok_mean_word_len,
               {ALPHA_DEN} * alpha_words >= {ALPHA_NUM} * n_words
                 AS ok_alpha_words,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                 AND ({GOPHER_MIN_MWL} * n_words <= n_chars
                      AND n_chars <= {GOPHER_MAX_MWL} * n_words)
                 AND ({ALPHA_DEN} * alpha_words >= {ALPHA_NUM} * n_words)
                 AS keep
        FROM d
    """,
}

ORACLES["filter_agreement_kappa"] = _kappa_oracle()

ORACLES["label_balanced_sample"] = f"""
    WITH h AS (
      SELECT vec_id, label,
             {fold_hash_duck("CAST(vec_id AS VARCHAR)")} AS hh
      FROM embeddings
    ),
    q AS (SELECT min(cnt) AS quota
          FROM (SELECT count(*) AS cnt FROM h GROUP BY label)),
    r AS (SELECT vec_id, label,
                 row_number() OVER (PARTITION BY label ORDER BY hh, vec_id)
                   AS rk
          FROM h)
    SELECT vec_id, label FROM r, q WHERE rk <= quota
"""


def _boot_oracle() -> str:
    """DuckDB twin of :func:`poisson_bootstrap_ci`: the same affine-fold
    hash (``functions.text.fold_hash_duck``), the
    same Python-precomputed integer cutoffs, truncating integer means,
    and 1-based order statistics over the sorted replicate means."""
    h0 = fold_hash_duck("CAST(event_id AS VARCHAR)")
    mixed = f"((h0 + (r + 1) * {_BOOT_SALT}) % {HASH_MOD})"
    h = (
        f"({mixed} * {_BOOT_MUL} % {HASH_MOD})"
        f" * {_BOOT_MUL} % {HASH_MOD}"
    )
    w = " + ".join(
        f"(CASE WHEN {h} >= {cut} THEN 1 ELSE 0 END)" for cut in _BOOT_CUTOFFS
    )
    return f"""
        WITH ev AS (
          SELECT event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents,
                 {h0} AS h0
          FROM events
        ),
        reps AS (
          SELECT event_type, cents, h0, r
          FROM ev, (SELECT unnest(range({BOOT_REPLICATES})) AS r)
        ),
        weighted AS (
          SELECT event_type, r, cents, {w} AS w FROM reps
        ),
        cells AS (
          SELECT event_type, r,
                 CAST(sum(w * cents) AS BIGINT) AS sw,
                 CAST(sum(w) AS BIGINT) AS n
          FROM weighted GROUP BY event_type, r
        ),
        means AS (
          SELECT event_type, sw // n AS m FROM cells WHERE n > 0
        ),
        ms AS (
          SELECT event_type, count(*) AS n_replicates,
                 list(m ORDER BY m) AS l
          FROM means GROUP BY event_type
        )
        SELECT event_type, n_replicates,
               l[{_BOOT_LO}] AS boot_lo_cents,
               l[{_BOOT_MED}] AS boot_median_cents,
               l[{_BOOT_HI}] AS boot_hi_cents
        FROM ms
    """


ORACLES["poisson_bootstrap_ci"] = _boot_oracle()


def _calibration_oracle() -> str:
    # composed from the classifier's own oracle SQL + the Gopher gate's,
    # same pattern as _kappa_oracle
    from .curation import ORACLES as CURATION_ORACLES

    clf_sql = CURATION_ORACLES["quality_classifier_scores"]
    gopher_sql = ORACLES["gopher_quality_flags"]
    return f"""
        WITH clf AS ({clf_sql}),
        rules AS ({gopher_sql}),
        j AS (
          SELECT CAST(floor(clf.score / {CAL_BIN_WIDTH}) AS BIGINT)
                   AS score_bin,
                 rules.keep AS k_rule
          FROM clf JOIN rules USING (doc_id)
        )
        SELECT score_bin, count(*) AS n_docs,
               CAST(10000 * sum(CASE WHEN k_rule THEN 1 ELSE 0 END)
                    // count(*) AS BIGINT) AS rule_keep_bp
        FROM j GROUP BY score_bin
    """


ORACLES["classifier_calibration_bins"] = _calibration_oracle()


#: deciles for the classifier lift table
LIFT_DECILES = 10


def classifier_decile_lift(t: Tables) -> DataFrame:
    """Decile lift table for the learned quality filter — the rollout
    report next to :func:`classifier_calibration_bins`: rank documents by
    classifier score into CDF deciles and report, per decile, the
    INDEPENDENT Gopher gate's keep rate, the lift over the corpus base
    rate, and the cumulative capture of gate-kept docs when skimming from
    the top decile down. The table a filter owner reads before choosing a
    score threshold ("decile 10 carries 3.1x base rate and the top three
    deciles capture 60% of rule-kept docs").

    Deciles come from :func:`distribution.cdf_buckets` over the
    integer-score histogram: one window over the DISTINCT-score
    histogram, ``ceil(10·cum_le/n)`` broadcast-joined back — tie-stable
    and no corpus sort. The lift and
    capture ratios keep the float chain identical on both engines
    (left-associative ``(1e6·n_pos)/n_docs·n_tot/p_tot``) and NULL out if
    the gate keeps nothing. Final windows run over ≤ 10 decile rows.

    Output per decile: ``score_decile`` (1 = lowest scores, 10 = top),
    ``n_docs``, ``n_pos``, ``pos_rate_bp``, ``lift_micro``,
    ``cum_capture_bp`` (cumulative from the TOP decile down).
    """
    from ..tables import persist_replacing

    j = persist_replacing(
        _score_and_gate(t).select(
            "score", F.col("k_rule").cast("long").alias("pos")
        ),
        "sampling.lift_joined",
    )
    hist = j.groupBy("score").agg(F.count("*").alias("cnt"))
    dec_map = cdf_buckets(hist, "score", "cnt", LIFT_DECILES, "score_decile")
    per_dec = (
        j.join(F.broadcast(dec_map), "score")
        .groupBy("score_decile")
        .agg(F.count("*").alias("n_docs"), F.sum("pos").alias("n_pos"))
    )
    totals = per_dec.agg(
        F.sum("n_docs").alias("n_tot"), F.sum("n_pos").alias("p_tot")
    )
    wtop = Window.orderBy(F.col("score_decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_dec.crossJoin(F.broadcast(totals))
        .withColumn("cum_pos", F.sum("n_pos").over(wtop))
        .select(
            "score_decile",
            "n_docs",
            "n_pos",
            F.expr("10000 * n_pos DIV n_docs").alias("pos_rate_bp"),
            F.when(
                F.col("p_tot") > 0,
                F.floor(
                    F.lit(1000000.0)
                    * F.col("n_pos").cast("double")
                    / F.col("n_docs").cast("double")
                    * F.col("n_tot").cast("double")
                    / F.col("p_tot").cast("double")
                ).cast("long"),
            ).alias("lift_micro"),
            F.when(F.col("p_tot") > 0, F.expr("10000 * cum_pos DIV p_tot"))
            .cast("long")
            .alias("cum_capture_bp"),
        )
    )


def _decile_lift_oracle() -> str:
    # composed from the classifier's + the gate's own oracle SQL, like
    # _calibration_oracle; per-row RANGE cume counts equal the Spark
    # side's per-distinct-score histogram cumsum (peers included)
    from .curation import ORACLES as CURATION_ORACLES

    clf_sql = CURATION_ORACLES["quality_classifier_scores"]
    gopher_sql = ORACLES["gopher_quality_flags"]
    return f"""
        WITH clf AS ({clf_sql}),
        rules AS ({gopher_sql}),
        j AS MATERIALIZED (
          SELECT clf.score, CASE WHEN rules.keep THEN 1 ELSE 0 END AS pos
          FROM clf JOIN rules USING (doc_id)
        ),
        dec AS MATERIALIZED (
          SELECT score, pos,
                 CAST(ceil({float(LIFT_DECILES)}
                      * CAST(count(*) OVER (ORDER BY score RANGE BETWEEN
                             UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                      / CAST(count(*) OVER () AS DOUBLE)) AS INTEGER)
                   AS score_decile
          FROM j
        ),
        per_dec AS MATERIALIZED (
          SELECT score_decile, count(*) AS n_docs,
                 CAST(sum(pos) AS BIGINT) AS n_pos
          FROM dec GROUP BY score_decile
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
                 CAST(sum(n_pos) AS BIGINT) AS p_tot
          FROM per_dec
        )
        SELECT p.score_decile, p.n_docs, p.n_pos,
               CAST(10000 * p.n_pos // p.n_docs AS BIGINT) AS pos_rate_bp,
               CASE WHEN t.p_tot > 0 THEN
                 CAST(floor(1000000.0 * CAST(p.n_pos AS DOUBLE)
                      / CAST(p.n_docs AS DOUBLE)
                      * CAST(t.n_tot AS DOUBLE)
                      / CAST(t.p_tot AS DOUBLE)) AS BIGINT)
               END AS lift_micro,
               CASE WHEN t.p_tot > 0 THEN
                 CAST(10000 * sum(p.n_pos) OVER (ORDER BY p.score_decile
                        DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                        ROW) // t.p_tot AS BIGINT)
               END AS cum_capture_bp
        FROM per_dec p CROSS JOIN tot t
    """


QUERIES["classifier_decile_lift"] = classifier_decile_lift
ORACLES["classifier_decile_lift"] = _decile_lift_oracle()
