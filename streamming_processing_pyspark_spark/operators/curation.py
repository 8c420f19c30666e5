"""Corpus-curation operators: CCNet-style perplexity bucketing, a
hashed-feature quality classifier, and per-source cap sampling.

These close the remaining gaps of a production pretraining-data pipeline
(beyond dedup/similarity/text, which live in their own modules):

- ``perplexity_buckets`` — CCNet's head/middle/tail split: score every
  document with a language-model perplexity, then bucket by per-language
  score terciles. The real scorer (KenLM) is not in this container, so the
  score is an HONEST deterministic stand-in (integer char-statistics
  arithmetic, documented below); the pipeline around it — exact
  distributed quantile thresholds WITHOUT a global sort — is the real
  100 TB machinery: per-(lang, score) histogram (map-side combinable, one
  shuffle of |distinct scores| rows), cumulative counts over the tiny
  histogram frame, threshold pick, broadcast back, map-side bucket assign.
  CCNet semantics: ties share a bucket (thresholds, not exact thirds).
- ``quality_classifier_scores`` — fastText-shaped linear quality filter
  via feature hashing: each token hashes to a weight (affine-fold string
  hash, SQL-portable so the oracle replays it bit-for-bit), the document
  score is the sum, keep = score > 0. Weights are a deterministic function
  of the hash bucket (a stand-in for trained parameters — the real model
  would broadcast a weight table; the shape is identical). Entirely
  map-only: zero shuffles, zero Python — the filter runs at scan speed.
- ``source_cap_sample`` — cap any single source (domain/crawl/book) at K
  documents, keeping a deterministic uniform sample per source: rank by
  md5(doc_id) within source, keep rank <= K. The rank filter compiles to
  a WindowGroupLimit with partial per-partition pruning (each task keeps
  at most K rows per group before the shuffle), so the shuffle moves
  O(K x sources) rows, not the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fold_hash, fold_hash_duck, words
from .distribution import exact_cuts

Tables = dict[str, DataFrame]

#: per-source document cap for source_cap_sample
SOURCE_CAP_K = 40

#: classifier bias (stub parameter, see quality_classifier_scores)
CLASSIFIER_BIAS = 2


def _ppl_score() -> Column:
    """Deterministic stand-in for a KenLM perplexity over ``text``.

    Real CCNet scores with a 5-gram LM; no LM runtime exists in this
    container, so the score is pure integer arithmetic on character
    statistics — higher for long average tokens and low alphabetic ratio,
    i.e. directionally "perplexity-like" — and both engines compute it
    bit-for-bit: ``floor(100 * len / n_tokens) + floor(10000 * (len -
    alpha_chars) / len)``.
    """
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    return (
        F.floor(F.length("text") * 100 / n_tokens)
        + F.floor((F.length("text") - alpha) * 10000 / F.length("text"))
    ).cast("long")


def perplexity_buckets(t: Tables) -> DataFrame:
    """CCNet head/middle/tail bucketing by per-language score terciles.

    Thresholds are EXACT 1/3 and 2/3 quantiles computed without sorting
    the table: :func:`distribution.exact_cuts` over the per-(lang,
    score) histogram (a window over |distinct scores| rows per lang —
    thousands, not billions) takes the smallest score whose cumulative
    count reaches ceil(n/3) / ceil(2n/3); the 2-value-per-lang threshold
    table broadcasts back and buckets are assigned map-side. The only
    input-sized stages are the initial histogram aggregation and the
    final broadcast-join scan — the standard way to take exact quantiles
    of 100 TB.
    """
    d = t["documents"].select("doc_id", "lang", _ppl_score().alias("ppl_score"))
    hist = d.groupBy("lang", "ppl_score").agg(F.count("*").alias("cnt"))
    th = exact_cuts(hist, "ppl_score", "cnt", {"t1": (1, 3), "t2": (2, 3)}, "lang")
    return d.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "ppl_score",
        F.when(F.col("ppl_score") <= F.col("t1"), "head")
        .when(F.col("ppl_score") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def classifier_score_col() -> Column:
    """The hashed-feature classifier score as ONE Column over ``text`` —
    exposed so composite queries (calibration bins, decile lift, kappa)
    can evaluate the classifier and the Gopher gate in a SINGLE documents
    scan projection instead of joining two scans."""
    return F.aggregate(
        F.transform(words("text"), lambda tok: fold_hash(tok) % 21 - 10),
        F.lit(CLASSIFIER_BIAS).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quality_classifier_scores(t: Tables) -> DataFrame:
    """Hashed-feature linear classifier score per document, map-only.

    Each whitespace token is feature-hashed with the SQL-portable affine
    fold (``functions.text.fold_hash``) and mapped to an integer weight in
    [-10, 10] (``h % 21 - 10`` — a deterministic stand-in for trained
    fastText weights; a real model would broadcast its weight table and
    the plan would be identical). Document score = sum of token weights +
    bias; ``keep`` = score > 0. No shuffle, no Python: the whole
    classifier evaluates inside the scan projection.
    """
    score = classifier_score_col()
    return t["documents"].select(
        "doc_id",
        score.alias("score"),
        (score > 0).alias("keep"),
    )


def source_cap_sample(t: Tables) -> DataFrame:
    """Cap every source at ``SOURCE_CAP_K`` docs via deterministic uniform
    per-source sampling (rank by md5(doc_id) — reproducible, unbiased in
    doc_id). The rank predicate compiles to WindowGroupLimit: each input
    partition pre-prunes to K rows per source before the single shuffle.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        t["documents"]
        .select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= SOURCE_CAP_K)
        .select("doc_id", "source")
    )


#: numerator/denominator of the kept quality-mass fraction (4/5 = 80%)
MASS_KEEP_NUM = 4
MASS_KEEP_DEN = 5


def quality_mass_filter(t: Tables) -> DataFrame:
    """Top-p curation per source: keep the highest-quality documents until
    they cover 80% of the source's token mass — the "best X% of each
    domain by quality, weighted by tokens" mixing rule (quality ranking
    from the hashed-feature classifier, tie-broken by doc_id; all-integer
    cumulative comparison ``cum·5 <= total·4`` so both engines agree
    exactly).

    Scale shape: score and token count are map-side; the cumulative sum
    is one window per source (same partitioning as source_cap_sample —
    source-sized frames, not corpus-sized); per-source totals ride the
    same window partition (unbounded frame), so ONE shuffle total.
    """
    d = t["documents"].select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    scores = quality_classifier_scores(t).select("doc_id", "score")
    j = d.join(scores, "doc_id")
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = j.select(
        "doc_id",
        "source",
        "score",
        "n_tokens",
        F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
        F.sum("n_tokens").over(w_all).alias("total_tokens"),
    )
    return ranked.where(
        F.col("cum_tokens") * MASS_KEEP_DEN
        <= F.col("total_tokens") * MASS_KEEP_NUM
    ).select("doc_id", "source", "score", "n_tokens", "cum_tokens")


def dataset_card_rollup(t: Tables) -> DataFrame:
    """Per-source dataset-card manifest — the summary block a training-run
    datasheet needs, in ONE scan and ONE shuffle: document count, char and
    whitespace-token volume, language spread, exact-duplicate redundancy
    (``n_docs − distinct md5(text)``), size extremes, and the integer mean
    doc length.

    Plan shape: a single groupBy(source) carrying two DISTINCT aggregates
    (lang, text-md5) — Catalyst compiles multi-distinct via Expand (each
    input row is duplicated per distinct group before the partial agg), so
    the map-side payload is 3× rows of narrow columns, still one exchange.
    At extreme scale the md5-distinct arm would be pre-aggregated
    separately ((source, md5) partial first); the single-pass form is the
    right default until that Expand dominates.
    """
    d = t["documents"]
    tok = F.size(F.split(F.trim("text"), r"\s+"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(tok.cast("long")).alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        (F.count("*") - F.count_distinct(F.md5("text"))).alias(
            "n_redundant_docs"
        ),
        F.max("n_chars").alias("max_chars"),
        F.expr("sum(n_chars) DIV count(*)").alias("avg_chars"),
    )


QUERIES = {
    "perplexity_buckets": perplexity_buckets,
    "dataset_card_rollup": dataset_card_rollup,
    "quality_classifier_scores": quality_classifier_scores,
    "source_cap_sample": source_cap_sample,
    "quality_mass_filter": quality_mass_filter,
}

_PPL_SQL = """
      SELECT doc_id, lang,
             CAST(floor(len(text) * 100.0
                        / len(string_split_regex(trim(text), '\\s+')))
                  + floor((len(text) - len(regexp_replace(text, '[^a-z]', '', 'g')))
                          * 10000.0 / len(text))
                  AS BIGINT) AS ppl_score
      FROM documents
"""

#: DuckDB mirror of :func:`classifier_score_col`
_CLASSIFIER_SCORE_DUCK = (
    "list_sum(list_transform(string_split_regex(trim(text), '\\s+'),"
    f" tok -> {fold_hash_duck('tok')} % 21 - 10)) + {CLASSIFIER_BIAS}"
)

ORACLES: dict[str, str] = {
    "dataset_card_rollup": r"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(len(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS total_tokens,
               count(DISTINCT lang) AS n_langs,
               count(*) - count(DISTINCT md5(text)) AS n_redundant_docs,
               max(n_chars) AS max_chars,
               CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars
        FROM documents
        GROUP BY source
    """,
    "perplexity_buckets": f"""
        WITH d AS ({_PPL_SQL}),
        hist AS (
          SELECT lang, ppl_score, count(*) AS cnt FROM d GROUP BY 1, 2
        ),
        cum AS (
          SELECT lang, ppl_score, cnt,
                 sum(cnt) OVER (PARTITION BY lang ORDER BY ppl_score) AS cum
          FROM hist
        ),
        tot AS (SELECT lang, sum(cnt) AS n FROM hist GROUP BY lang),
        th AS (
          SELECT c.lang,
                 min(CASE WHEN c.cum >= floor((t.n + 2) / 3)
                          THEN c.ppl_score END) AS t1,
                 min(CASE WHEN c.cum >= floor((2 * t.n + 2) / 3)
                          THEN c.ppl_score END) AS t2
          FROM cum c JOIN tot t USING (lang) GROUP BY c.lang
        )
        SELECT d.doc_id, d.lang, d.ppl_score,
               CASE WHEN d.ppl_score <= th.t1 THEN 'head'
                    WHEN d.ppl_score <= th.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM d JOIN th USING (lang)
    """,
    "quality_classifier_scores": f"""
        WITH s AS (
          SELECT doc_id,
                 {_CLASSIFIER_SCORE_DUCK} AS score
          FROM documents
        )
        SELECT doc_id, CAST(score AS BIGINT) AS score, score > 0 AS keep
        FROM s
    """,
    "quality_mass_filter": f"""
        WITH sc AS (
          SELECT doc_id,
                 {_CLASSIFIER_SCORE_DUCK} AS score
          FROM documents
        ),
        j AS (
          SELECT d.doc_id, d.source,
                 CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(sc.score AS BIGINT) AS score
          FROM documents d JOIN sc USING (doc_id)
        ),
        r AS (
          SELECT doc_id, source, score, n_tokens,
                 sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_tokens,
                 sum(n_tokens) OVER (PARTITION BY source) AS total_tokens
          FROM j
        )
        SELECT doc_id, source, score, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM r
        WHERE cum_tokens * {MASS_KEEP_DEN} <= total_tokens * {MASS_KEEP_NUM}
    """,
    "source_cap_sample": f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM documents
        ) WHERE rk <= {SOURCE_CAP_K}
    """,
}
