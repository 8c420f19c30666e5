"""End-to-end training-data campaign: the DEPLOY.md §6 composition as ONE
registered, oracle-hashed query.

The individual stages — quality gating (``sampling.gopher_quality_flags``),
exact dedup (``dedup.dedup_keep_first``), near-dup clustering
(``dedup.ngram_jaccard_pairs`` → ``pipeline._connected_components``) and
sequence packing (``pipeline.token_pack_bins``) — are each driver-checked
in isolation; this module proves they COMPOSE: one pipeline running
ingest → gate → exact dedup → near-dup CC → pack, summarized into a single
row of exact integers that DuckDB recomputes end-to-end, so stage
boundaries (which corpus each stage sees) are part of the checked spec.

Reference scope note: the reference project (``/root/reference``,
Task2-4/Client.py) has no curation pipeline; this extends the engine for
the 100 TB training-data use case per SURVEY.md §7 phase 4.

Scale posture: the gate is a map-side predicate ON the scan (no flags
join); exact dedup is one hash aggregation; the pair/CC stages run on the
(much smaller) gated+deduped corpus with the same capped-inverted-index /
pointer-doubling plans audited in PLANS.md; packing windows per shard.
The summary aggregations are 1-row frames cross-joined at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _near_dup_components_duck, ngram_jaccard_pairs
from .pipeline import PACK_SEQ_LEN, PACK_SHARDS, _connected_components
from .sampling import (
    ALPHA_DEN,
    ALPHA_NUM,
    GOPHER_MAX_MWL,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_MWL,
    GOPHER_MIN_WORDS,
)
from .text import words

Tables = dict[str, DataFrame]

#: shard key-space packing for the distinct-bin count (bins per shard are
#: token-budget-bounded, orders of magnitude below this)
_BIN_KEY_SPAN = 1_000_000


def dedup_campaign_summary(
    t: Tables, checkpoint_dir: str | None = None
) -> DataFrame:
    """Ingest → Gopher gate → exact dedup → near-dup CC → pack, one row.

    Output (all exact integers, hash-matched against a DuckDB replay of
    the whole pipeline):

    - ``n_ingested``   — corpus size entering the campaign
    - ``n_quality``    — docs passing the conjunctive Gopher gate
    - ``n_after_exact``— distinct texts among gated docs (keep-first)
    - ``n_after_neardup`` — survivors after near-dup clustering (a doc
      survives iff unclustered or its cluster's min-id representative)
    - ``n_tokens_packed`` — whitespace tokens entering packing
    - ``n_bins``       — occupied (shard, bin) training sequences
    """
    from ..tables import persist_replacing

    docs = t["documents"]

    # stage 1+2: map-side Gopher gate on the scan (no flags join).
    # r12 (guide §1.2 per-task work): the word array is SPLIT ONCE in a
    # projection and the three Gopher metrics read it — the previous
    # inline gopher_keep_col() re-split trim(text) three times per row
    # inside interpreted HOFs (measured 0.52 → 0.39 s for the gate scan
    # at sf0.1; keep set identical — same expressions over the same
    # array, just not recomputed).
    ws = F.split(F.trim("text"), r"\s+")
    n_words = F.size("ws").cast("long")
    n_chars = F.expr(
        "aggregate(transform(ws, w -> length(w)),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    alpha_words = F.expr("size(filter(ws, w -> w rlike '[a-z]'))").cast(
        "long"
    )
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (F.lit(GOPHER_MIN_MWL) * n_words <= n_chars)
        & (n_chars <= F.lit(GOPHER_MAX_MWL) * n_words)
        & (F.lit(ALPHA_DEN) * alpha_words >= F.lit(ALPHA_NUM) * n_words)
    )
    gated = (
        docs.select("doc_id", "text", ws.alias("ws"))
        .where(keep)
        .select("doc_id", "text")
    )

    # stage 3: exact dedup, keep-first — one hash aggregation; text is
    # carried (first() == any(): rows in a text-group share the text).
    # Persisted: THREE branches consume it (the pair/CC chain, the
    # survivor join, and the n_after_exact count) — unpinned, each re-runs
    # the documents scan + gate + dedup aggregate. r12: the group SIZE is
    # carried too, so n_quality (= gated docs = Σ group sizes) comes from
    # this frame instead of a SECOND full gate evaluation over the corpus.
    exact = persist_replacing(
        gated.groupBy("text").agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("grp_n"),
        ),
        "campaign_exact",
    )

    # stage 4: near-dup pairs + connected components over the deduped
    # sub-corpus (same capped inverted index / pointer-doubling CC as the
    # standalone queries — they only read doc_id/text)
    # minimal overlay: the pair source only reads t["documents"], so a
    # one-key mapping avoids forcing the other nine table loads (the old
    # dict(t) copy materialized every table under lazy Tables)
    sub = {"documents": exact.select("doc_id", "text")}
    clusters = _connected_components(
        ngram_jaccard_pairs(sub).select("id_a", "id_b"),
        "campaign",
        checkpoint_dir,
    )
    surv = (
        exact.join(F.broadcast(clusters), "doc_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "text")
    )

    # stage 5: per-shard packing layout over the survivors
    d = surv.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(words("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = d.select(
        "n_tokens",
        (
            F.col("shard") * _BIN_KEY_SPAN + F.floor(offset / PACK_SEQ_LEN)
        ).alias("bin_key"),
    )

    # summary: three 1-row frames cross-joined. r12: n_quality = Σ grp_n
    # over the PERSISTED dedup frame (identical integer — every gated doc
    # lands in exactly one text-group), so the corpus-wide gate runs ONCE
    # per call; n_ingested degrades to a bare count(*) scan (no text
    # decode). n_after_exact stays a row count over the persisted frame.
    s_ingest = docs.agg(F.count("*").alias("n_ingested"))
    s_exact = exact.agg(
        F.count("*").alias("n_after_exact"),
        F.coalesce(F.sum("grp_n"), F.lit(0)).alias("n_quality"),
    )
    s_pack = packed.agg(
        F.count("*").alias("n_after_neardup"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens_packed"),
        F.countDistinct("bin_key").alias("n_bins"),
    )
    return (
        s_ingest.crossJoin(s_exact)
        .crossJoin(s_pack)
        .select(
            "n_ingested",
            "n_quality",
            "n_after_exact",
            "n_after_neardup",
            "n_tokens_packed",
            "n_bins",
        )
    )


_GATE_DUCK = f"""
    g AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
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
      WHERE n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND {GOPHER_MIN_MWL} * n_words <= n_chars
        AND n_chars <= {GOPHER_MAX_MWL} * n_words
        AND {ALPHA_DEN} * alpha_words >= {ALPHA_NUM} * n_words
    )
"""

ORACLES: dict[str, str] = {
    "dedup_campaign_summary": f"""
        WITH RECURSIVE
        {_GATE_DUCK},
        x AS (SELECT min(doc_id) AS doc_id, text FROM g GROUP BY text),
        {_near_dup_components_duck("x")},
        surv AS (SELECT x.doc_id, x.text
                 FROM x LEFT JOIN comp ON x.doc_id = comp.node
                 WHERE comp.component IS NULL OR comp.component = x.doc_id),
        tok AS (SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                       CAST(len(string_split_regex(trim(text), '\\s+'))
                            AS BIGINT) AS n_tokens
                FROM surv),
        binned AS (SELECT shard, n_tokens,
                          coalesce(sum(n_tokens) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ), 0) AS off
                   FROM tok)
        SELECT (SELECT count(*) FROM documents) AS n_ingested,
               (SELECT count(*) FROM g) AS n_quality,
               (SELECT count(*) FROM x) AS n_after_exact,
               CAST(count(*) AS BIGINT) AS n_after_neardup,
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens_packed,
               CAST(count(DISTINCT shard * {_BIN_KEY_SPAN} + off // {PACK_SEQ_LEN})
                    AS BIGINT) AS n_bins
        FROM binned
    """,
}

QUERIES = {
    "dedup_campaign_summary": dedup_campaign_summary,
}
