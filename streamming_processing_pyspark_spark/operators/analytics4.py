"""Round-8 operator batch: training-corpus audits and warehouse
concentration/latency analytics.

Seven operators extending the LLM-pipeline and warehouse surface (the
reference project — ``/root/reference``, Task2-4/Client.py — has none of
this; SURVEY.md §7 phase-4 extensions), all Spark-first and
DuckDB-oracle-checked:

- ``embedding_gram_offdiag_topk`` — strongest cross-dimension
  correlations of the embedding table from map-side partial Gram
  matrices: the feature-redundancy audit run before whitening/PCA or
  product-quantization subspace splits.
- ``token_len_percentiles_by_source`` — exact P50/P90/P99 document
  lengths (tokens) per source via :func:`distribution.exact_cuts` (no
  global sort) — the length-profile every mixing/packing decision
  reads.
- ``dedup_survivorship_by_source`` — per-source retention after exact
  keep-first dedup, including docs whose canonical copy lives in a
  DIFFERENT source (the attribution/licensing signal).
- ``context_fit_report`` — docs fitting / truncated and tokens kept /
  lost at each candidate context length, from ONE corpus scan.
- ``source_share_drift`` — per-source token share in the first vs second
  half of the ingestion id space: the composition-drift monitor.
- ``ship_lag_profile`` — order→ship latency distribution per order
  priority (exact integer day buckets).
- ``customer_revenue_deciles`` — revenue concentration by customer
  decile, boundaries from exact percentiles (broadcast), assignment at
  scan speed — no global sort, no NTILE window.
- ``streaming_context_fit`` twin registered in registry.py: the same
  context-fit cells maintained by a documents file stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from .distribution import exact_cuts, exact_gini

Tables = dict[str, DataFrame]

#: Gram audit: fixed-point scale and how many strongest pairs to report
GRAM_MICRO = 1_000_000
GRAM_TOPK = 20

#: exact token-length percentiles reported per source
TOKEN_PCT = (50, 90, 99)

#: candidate context lengths (tokens). The synthetic docs run 10-99
#: tokens (median ~56), so these cuts split the corpus; production swaps
#: in 2k/8k/32k.
CONTEXT_SIZES = (32, 64, 96)

#: customer-revenue concentration: number of value-percentile buckets
REV_DECILES = 10


def embedding_gram_offdiag_topk(t: Tables) -> DataFrame:
    """Top-|Gram| off-diagonal dimension pairs of the embedding table —
    the cross-dimension correlation audit run before whitening, PCA, or
    choosing PQ subspace splits (strongly coupled dims in one subspace
    quantize poorly).

    Plan shape for 100 TB: each Arrow batch computes its own integer
    Gram partial ``Mᵀ·M`` (d×d, micro² fixed point) and emits d(d−1)/2
    upper-triangle rows — the map-side-combine shape, so the shuffle
    carries ≤ partitions·d²/2 narrow rows, never n·d². The fixed-point
    floor (components at 1e-6) makes every sum integer arithmetic:
    bit-exact against the oracle regardless of summation order. (Partial
    products reach ~2.5e11 per pair per row; int64 holds ~9e18, so sums
    overflow past ~4e7 rows per final cell — at that scale shift the
    micros down 10 bits, same as embedding_norm_audit's documented
    ladder.) Output: GRAM_TOPK pairs by |gram|, ties broken on (i, j).
    """
    import numpy as np
    import pandas as pd

    from ..tables import fan_out
    from .similarity import as_double

    emb = fan_out(t["embeddings"].select(as_double("embedding").alias("vec")))

    def partial_gram(batches):
        acc = None
        for pdf in batches:
            m = np.floor(
                np.array(pdf["vec"].tolist(), dtype="float64") * GRAM_MICRO
            ).astype("int64")
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu, ju = np.triu_indices(acc.shape[0], k=1)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "s": acc[iu, ju],
            }
        )

    parts = emb.mapInPandas(partial_gram, schema="i int, j int, s long")
    return (
        parts.groupBy("i", "j")
        .agg(F.sum("s").alias("gram_micro2"))
        .orderBy(F.abs(F.col("gram_micro2")).desc(), "i", "j")
        .limit(GRAM_TOPK)
    )


def token_len_percentiles_by_source(t: Tables) -> DataFrame:
    """Exact P50/P90/P99 token counts per source — without a global sort:
    the corpus reduces to a per-(source, n_tokens) histogram (map-side
    combinable, ONE shuffle of |distinct lengths| rows) and
    :func:`distribution.exact_cuts` takes each percentile as the
    smallest length whose cumulative count reaches ``ceil(q·n)`` — the
    standard way to take exact quantiles of 100 TB. All-integer, so it
    hash-matches the oracle.
    """
    hist = (
        t["documents"]
        .groupBy("source", token_count("text").cast("long").alias("n_tok"))
        .agg(F.count("*").alias("cnt"))
    )
    cuts = {f"p{q}_tokens": (q, 100) for q in TOKEN_PCT}
    return exact_cuts(hist, "n_tok", "cnt", cuts, "source").withColumnRenamed(
        "n", "n_docs"
    )


def dedup_survivorship_by_source(t: Tables) -> DataFrame:
    """Per-source retention after exact keep-first dedup (min doc_id per
    text hash — the same canonical rule as dedup.exact_dedup): docs,
    kept, dropped, drop share, and — the attribution/licensing signal —
    how many of a source's docs were dropped because their canonical
    copy lives in a DIFFERENT source.

    Plan: one groupBy(text hash) builds the canonical map (|distinct
    texts| rows), which joins back to the (doc_id, source, hash)
    projection; the keep-side source arrives through a second
    pair-then-canonical-sized join. Nothing wider than the corpus is
    ever shuffled, and the rollup is |sources| rows.
    """
    d = t["documents"].select("doc_id", "source", F.md5("text").alias("h"))
    canon = d.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    keep_src = d.select(
        F.col("doc_id").alias("keep_id"), F.col("source").alias("keep_source")
    )
    j = d.join(canon, "h").join(keep_src, "keep_id")
    dropped = (F.col("doc_id") != F.col("keep_id")).cast("long")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(1 - dropped).alias("n_kept"),
        F.sum(dropped).alias("n_dropped"),
        F.sum(
            (
                (F.col("doc_id") != F.col("keep_id"))
                & (F.col("keep_source") != F.col("source"))
            ).cast("long")
        ).alias("n_lost_to_other_source"),
        F.expr(
            "10000 * sum(CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END)"
            " DIV count(*)"
        ).alias("drop_bp"),
    )


def context_fit_report(t: Tables) -> DataFrame:
    """For each candidate context length: docs that fit entirely, docs
    that would truncate, tokens kept and tokens lost — the table a
    training-data owner reads before fixing sequence length.

    ONE corpus scan: the per-doc token count fans out map-side to the
    |CONTEXT_SIZES| candidate lengths (explode of a literal array — no
    extra scan, and the aggregation map-combines to |sizes| rows per
    task before the shuffle).
    """
    return context_fit_cells(t["documents"])


def context_fit_cells(documents: DataFrame) -> DataFrame:
    """The whole :func:`context_fit_report` aggregate over a documents
    frame. Every output is an aggregate over the |CONTEXT_SIZES| cells, so
    the streaming twin runs it as is."""
    tok = documents.select(token_count("text").cast("long").alias("n_tok"))
    sized = tok.select(
        "n_tok",
        F.explode(
            F.array(*[F.lit(s).cast("long") for s in CONTEXT_SIZES])
        ).alias("ctx"),
    )
    return sized.groupBy("ctx").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_tok") <= F.col("ctx")).cast("long")).alias("n_fit"),
        F.sum((F.col("n_tok") > F.col("ctx")).cast("long")).alias(
            "n_truncated"
        ),
        F.sum(F.least("n_tok", "ctx")).alias("tokens_kept"),
        F.sum(F.greatest(F.col("n_tok") - F.col("ctx"), F.lit(0).cast("long"))).alias(
            "tokens_lost"
        ),
        F.expr(
            "10000 * sum(CASE WHEN n_tok <= ctx THEN 1 ELSE 0 END)"
            " DIV count(*)"
        ).alias("fit_bp"),
    )


def source_share_drift(t: Tables) -> DataFrame:
    """Per-source token share in the FIRST vs SECOND half of the doc_id
    space — the ingestion-composition drift monitor (a source whose share
    moves between halves is growing or shrinking in the feed). One
    corpus scan to (source, half) token sums; share arithmetic on the
    2·|sources| cell frame in exact basis points.
    """
    mid = t["documents"].agg(
        F.expr("(min(doc_id) + max(doc_id)) DIV 2").alias("mid")
    )
    cells = (
        t["documents"]
        .select("doc_id", "source", token_count("text").cast("long").alias("n_tok"))
        .crossJoin(F.broadcast(mid))
        .groupBy("source", (F.col("doc_id") <= F.col("mid")).alias("first_half"))
        .agg(F.sum("n_tok").alias("tok"))
    )
    shares = cells.select(
        "source",
        "first_half",
        "tok",
        F.expr("10000 * tok DIV sum(tok) OVER (PARTITION BY first_half)").alias(
            "share_bp"
        ),
    )
    a = shares.where("first_half").select(
        "source",
        F.col("tok").alias("tokens_a"),
        F.col("share_bp").alias("share_a_bp"),
    )
    b = shares.where(~F.col("first_half")).select(
        "source",
        F.col("tok").alias("tokens_b"),
        F.col("share_bp").alias("share_b_bp"),
    )
    return a.join(b, "source", "full_outer").select(
        "source",
        F.coalesce("tokens_a", F.lit(0)).alias("tokens_a"),
        F.coalesce("tokens_b", F.lit(0)).alias("tokens_b"),
        F.coalesce("share_a_bp", F.lit(0)).alias("share_a_bp"),
        F.coalesce("share_b_bp", F.lit(0)).alias("share_b_bp"),
        F.abs(
            F.coalesce("share_a_bp", F.lit(0))
            - F.coalesce("share_b_bp", F.lit(0))
        ).alias("drift_bp"),
    )


def ship_lag_profile(t: Tables) -> DataFrame:
    """Order→ship latency per order priority: line count, mean days
    (integer), max days, and late lines (> 90 days) — the fulfillment
    SLA table. Day arithmetic runs on DATEs (both engines count calendar
    days identically); one broadcast-friendly equi-join (orders side
    carries only key/priority/date) and one map-combined rollup.
    """
    o = t["orders"].select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    li = t["lineitem"].select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    lag = F.datediff("sd", "od")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(lag.cast("long")).alias("total_lag_days"),
        F.expr(
            "sum(CAST(datediff(sd, od) AS BIGINT)) DIV count(*)"
        ).alias("mean_lag_days"),
        F.max(lag.cast("long")).alias("max_lag_days"),
        F.sum((lag > 90).cast("long")).alias("n_late_90d"),
    )


def customer_revenue_deciles(t: Tables) -> DataFrame:
    """Revenue concentration by customer decile — the Pareto table
    ("which tenth of customers carries which share of revenue") — with
    NO global sort and NO NTILE window: decile boundaries are
    :func:`distribution.exact_cuts` of the revenue histogram (exact,
    integer cents), the one-row boundary table BROADCASTS back onto the
    per-customer revenue frame, and each customer takes the smallest
    decile whose boundary covers its revenue. Deciles are value-buckets
    at exact ceil(k·n/10) cut points, so boundary-tied customers share a
    decile (counts can be lumpy around ties; shares stay exact).
    """
    from ..tables import persist_replacing

    rev = persist_replacing(
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_c"
            )
        ),
        "analytics4.cust_rev",
    )
    hist = rev.groupBy("rev_c").agg(F.count("*").alias("cnt"))
    ks = range(1, REV_DECILES + 1)
    cuts = {f"cut{k}": (k, REV_DECILES) for k in ks}
    bounds = exact_cuts(hist, "rev_c", "cnt", cuts)
    # the smallest covering decile; a NULL revenue has none and drops out
    decile = F.coalesce(
        *(F.when(F.col("rev_c") <= F.col(f"cut{k}"), F.lit(k)) for k in ks)
    ).cast("long")
    assigned = (
        rev.crossJoin(F.broadcast(bounds))
        .select("rev_c", decile.alias("decile"))
        .where(F.col("decile").isNotNull())
    )
    total = rev.agg(F.sum("rev_c").alias("total_c"))
    return (
        assigned.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev_c").alias("rev_cents"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "rev_cents",
            F.expr("10000 * rev_cents DIV total_c").alias("rev_share_bp"),
        )
    )


#: inter-event-time histogram: bucket b holds gaps with 2^(b-1) ≤ dt < 2^b
#: seconds (b = count of powers of two ≤ dt — pure integer comparisons, no
#: runtime log2 in either engine); cap chosen so the widest bucket is
#: ~194 days
GAP_BUCKET_BITS = 25

#: prefix dedup: how many leading tokens form the boilerplate key
PREFIX_TOKENS = 16


def inter_event_time_histogram(t: Tables) -> DataFrame:
    """Log₂-bucketed histogram of per-user inter-event times — the
    burstiness/returning-visit profile (and the input for choosing
    session gaps and streaming watermark horizons).

    Plan: ONE user-partitioned window (lag) — the same shuffle shape as
    sessionization — then a map-combined groupBy over ≤ GAP_BUCKET_BITS
    keys. The bucket index is a chain of integer comparisons against
    power-of-two literals, identical in both engines (floor(log2(n))
    computed in float can round up at 2^k − 1; counting boundaries
    can't).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("dt"),
    ).where(F.col("dt").isNotNull())
    bucket = sum(
        (F.col("dt") >= F.lit(2**i)).cast("int")
        for i in range(GAP_BUCKET_BITS)
    )
    g = ev.select(F.col("dt"), bucket.cast("int").alias("bucket"))
    cells = g.groupBy("bucket").agg(
        F.count("*").alias("n_gaps"),
        F.min("dt").alias("min_dt_s"),
        F.max("dt").alias("max_dt_s"),
    )
    return cells.select(
        "bucket",
        "n_gaps",
        "min_dt_s",
        "max_dt_s",
        F.expr(
            "10000 * n_gaps DIV sum(n_gaps) OVER ()"
        ).alias("share_bp"),
    )


def prefix_dup_groups(t: Tables) -> DataFrame:
    """Shared-prefix duplicate groups: documents whose first
    PREFIX_TOKENS tokens hash identically — the cheap boilerplate /
    mirrored-header detector crawl pipelines run before the expensive
    shingle ladder (a shared long prefix is overwhelmingly template
    text). One map-only projection to the prefix hash, one map-combined
    groupBy; emits only groups with >1 member.
    """
    h = F.md5(
        F.array_join(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, PREFIX_TOKENS), " "
        )
    )
    return (
        t["documents"]
        .select(h.alias("prefix_md5"), "doc_id")
        .groupBy("prefix_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def doc_length_gini_by_source(t: Tables) -> DataFrame:
    """Per-source token-length concentration: exact Gini and the Lorenz
    top-decile share — the length-skew audit (a source whose tokens are
    concentrated in few giant docs packs and mixes very differently from
    its document count).

    :func:`distribution.exact_gini` over per-doc token counts, ties
    broken by doc_id. Windows partition by SOURCE (bounded cardinality)
    — per-partition sorts, never a global one.
    """
    tok = t["documents"].select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tok")
    )
    return exact_gini(
        tok, "source", "n_tok", "doc_id", "analytics4.length_gini_ranked"
    ).select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("total").alias("total_tokens"),
        "gini_micro",
        "top_decile_share_micro",
    )


_TOKC_DUCK = "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"


def _oracles() -> dict[str, str]:
    gap_bucket = " + ".join(
        f"(CASE WHEN dt >= {2**i} THEN 1 ELSE 0 END)"
        for i in range(GAP_BUCKET_BITS)
    )
    pct_cols = ",\n                   ".join(
        f"min(CASE WHEN cum >= ({q} * n + 99) // 100 THEN n_tok END)"
        f" AS p{q}_tokens"
        for q in TOKEN_PCT
    )
    ctx_values = ", ".join(f"({s})" for s in CONTEXT_SIZES)
    return {
        "inter_event_time_histogram": f"""
            WITH g AS (
              SELECT date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), ts) AS dt
              FROM events
            ),
            b AS (
              SELECT CAST({gap_bucket} AS INTEGER) AS bucket, dt
              FROM g WHERE dt IS NOT NULL
            ),
            cells AS (
              SELECT bucket, count(*) AS n_gaps,
                     min(dt) AS min_dt_s, max(dt) AS max_dt_s
              FROM b GROUP BY bucket
            )
            SELECT bucket, n_gaps,
                   CAST(min_dt_s AS BIGINT) AS min_dt_s,
                   CAST(max_dt_s AS BIGINT) AS max_dt_s,
                   CAST(10000 * n_gaps // sum(n_gaps) OVER () AS BIGINT)
                     AS share_bp
            FROM cells
        """,
        "prefix_dup_groups": f"""
            SELECT md5(array_to_string(list_slice(
                     string_split_regex(trim(text), '\\s+'),
                     1, {PREFIX_TOKENS}), ' ')) AS prefix_md5,
                   count(*) AS n_docs,
                   min(doc_id) AS canonical_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
        """,
        "doc_length_gini_by_source": f"""
            WITH tok AS (
              SELECT doc_id, source, {_TOKC_DUCK} AS n_tok FROM documents
            ),
            ranked AS (
              SELECT source, n_tok,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_tok, doc_id) AS rn
              FROM tok
            ),
            p AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                     CAST(sum(rn * n_tok) AS BIGINT) AS t_weighted
              FROM ranked GROUP BY source
            ),
            top AS (
              SELECT r.source, CAST(sum(r.n_tok) AS BIGINT) AS top_tokens
              FROM ranked r JOIN p ON r.source = p.source
              WHERE r.rn >= p.n_docs - ceil(p.n_docs / 10.0) + 1
              GROUP BY r.source
            )
            SELECT p.source, p.n_docs, p.total_tokens,
                   CAST(floor(1000000.0 *
                        CAST(2 * t_weighted - (n_docs + 1) * total_tokens
                             AS DOUBLE)
                        / CAST(n_docs * total_tokens AS DOUBLE))
                     AS BIGINT) AS gini_micro,
                   CAST(floor(1000000.0 * CAST(top_tokens AS DOUBLE)
                              / CAST(total_tokens AS DOUBLE))
                     AS BIGINT) AS top_decile_share_micro
            FROM p JOIN top ON p.source = top.source
        """,
        "embedding_gram_offdiag_topk": f"""
            WITH e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) AS dim,
                     CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                     AS DOUBLE) * {float(GRAM_MICRO)})
                          AS BIGINT) AS vm
              FROM embeddings
            )
            SELECT CAST(a.dim - 1 AS INTEGER) AS i,
                   CAST(b.dim - 1 AS INTEGER) AS j,
                   CAST(sum(a.vm * b.vm) AS BIGINT) AS gram_micro2
            FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim < b.dim
            GROUP BY 1, 2
            ORDER BY abs(sum(a.vm * b.vm)) DESC, i, j
            LIMIT {GRAM_TOPK}
        """,
        "token_len_percentiles_by_source": f"""
            WITH tokc AS (
              SELECT source, {_TOKC_DUCK} AS n_tok FROM documents
            ),
            h AS (SELECT source, n_tok, count(*) AS cnt
                  FROM tokc GROUP BY 1, 2),
            c AS (
              SELECT source, n_tok,
                     sum(cnt) OVER (PARTITION BY source ORDER BY n_tok)
                       AS cum,
                     sum(cnt) OVER (PARTITION BY source) AS n
              FROM h
            )
            SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                   {pct_cols}
            FROM c GROUP BY source
        """,
        "dedup_survivorship_by_source": """
            WITH d AS (
              SELECT doc_id, source, md5(text) AS h FROM documents
            ),
            canon AS (
              SELECT h, min(doc_id) AS keep_id FROM d GROUP BY h
            ),
            j AS (
              SELECT d.doc_id, d.source, canon.keep_id, ks.source AS keep_source
              FROM d JOIN canon ON d.h = canon.h
                     JOIN d ks ON canon.keep_id = ks.doc_id
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped,
                   CAST(sum(CASE WHEN doc_id != keep_id
                                  AND keep_source != source
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_lost_to_other_source,
                   CAST(10000 * sum(CASE WHEN doc_id != keep_id
                                         THEN 1 ELSE 0 END) // count(*)
                        AS BIGINT) AS drop_bp
            FROM j GROUP BY source
        """,
        "context_fit_report": f"""
            WITH tok AS (SELECT {_TOKC_DUCK} AS n_tok FROM documents),
            sized AS (
              SELECT n_tok, CAST(ctx AS BIGINT) AS ctx
              FROM tok CROSS JOIN (VALUES {ctx_values}) AS s(ctx)
            )
            SELECT ctx, count(*) AS n_docs,
                   CAST(sum(CASE WHEN n_tok <= ctx THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_fit,
                   CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_truncated,
                   CAST(sum(least(n_tok, ctx)) AS BIGINT) AS tokens_kept,
                   CAST(sum(greatest(n_tok - ctx, 0)) AS BIGINT)
                     AS tokens_lost,
                   CAST(10000 * sum(CASE WHEN n_tok <= ctx THEN 1 ELSE 0 END)
                        // count(*) AS BIGINT) AS fit_bp
            FROM sized GROUP BY ctx
        """,
        "source_share_drift": f"""
            WITH m AS (
              SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents
            ),
            cells AS (
              SELECT source, doc_id <= (SELECT mid FROM m) AS first_half,
                     CAST(sum({_TOKC_DUCK}) AS BIGINT) AS tok
              FROM documents GROUP BY 1, 2
            ),
            shares AS (
              SELECT source, first_half, tok,
                     CAST(10000 * tok
                          // sum(tok) OVER (PARTITION BY first_half)
                          AS BIGINT) AS share_bp
              FROM cells
            )
            SELECT coalesce(a.source, b.source) AS source,
                   coalesce(a.tok, 0) AS tokens_a,
                   coalesce(b.tok, 0) AS tokens_b,
                   coalesce(a.share_bp, 0) AS share_a_bp,
                   coalesce(b.share_bp, 0) AS share_b_bp,
                   abs(coalesce(a.share_bp, 0) - coalesce(b.share_bp, 0))
                     AS drift_bp
            FROM (SELECT * FROM shares WHERE first_half) a
            FULL OUTER JOIN (SELECT * FROM shares WHERE NOT first_half) b
              ON a.source = b.source
        """,
        "ship_lag_profile": """
            SELECT o.o_orderpriority,
                   count(*) AS n_lines,
                   CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                      CAST(l.l_shipdate AS DATE)))
                        AS BIGINT) AS total_lag_days,
                   CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                      CAST(l.l_shipdate AS DATE)))
                        // count(*) AS BIGINT) AS mean_lag_days,
                   CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
                                      CAST(l.l_shipdate AS DATE)))
                        AS BIGINT) AS max_lag_days,
                   CAST(sum(CASE WHEN date_diff('day',
                                       CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE)) > 90
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_late_90d
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1
        """,
        "customer_revenue_deciles": f"""
            WITH rev AS MATERIALIZED (
              SELECT o_custkey,
                     CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                          AS BIGINT) AS rev_c
              FROM orders GROUP BY 1
            ),
            h AS (SELECT rev_c, count(*) AS cnt FROM rev GROUP BY 1),
            c AS (
              SELECT rev_c,
                     sum(cnt) OVER (ORDER BY rev_c) AS cum,
                     sum(cnt) OVER () AS n
              FROM h
            ),
            b AS (
              SELECT k,
                     min(CASE WHEN cum >= (k * n + {REV_DECILES - 1})
                                         // {REV_DECILES}
                              THEN rev_c END) AS cut
              FROM c CROSS JOIN (SELECT CAST(unnest(range(1, {REV_DECILES + 1}))
                                        AS BIGINT) AS k)
              GROUP BY k
            ),
            a AS (
              SELECT r.o_custkey, r.rev_c, min(b.k) AS decile
              FROM rev r JOIN b ON r.rev_c <= b.cut
              GROUP BY 1, 2
            )
            SELECT decile,
                   count(*) AS n_customers,
                   CAST(sum(rev_c) AS BIGINT) AS rev_cents,
                   CAST(10000 * sum(rev_c)
                        // (SELECT sum(rev_c) FROM rev) AS BIGINT)
                     AS rev_share_bp
            FROM a GROUP BY decile
        """,
    }


ORACLES: dict[str, str] = _oracles()

QUERIES = {
    "inter_event_time_histogram": inter_event_time_histogram,
    "prefix_dup_groups": prefix_dup_groups,
    "doc_length_gini_by_source": doc_length_gini_by_source,
    "embedding_gram_offdiag_topk": embedding_gram_offdiag_topk,
    "token_len_percentiles_by_source": token_len_percentiles_by_source,
    "dedup_survivorship_by_source": dedup_survivorship_by_source,
    "context_fit_report": context_fit_report,
    "source_share_drift": source_share_drift,
    "ship_lag_profile": ship_lag_profile,
    "customer_revenue_deciles": customer_revenue_deciles,
}
