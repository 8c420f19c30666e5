"""Training-data-pipeline operators, part 2: chunking, quantization,
decontamination.

Three more corpus-curation stages a pretraining pipeline runs at 100 TB
(continuing ``pipeline.py``; the reference has no document pipeline — these
are BASELINE.json north-star extensions, designed Spark-first):

- :func:`doc_chunks` — fixed-length token windows with overlap (the
  "split long documents into training sequences" step). Pure Catalyst:
  ``posexplode(sequence(...))`` + ``slice`` keeps the whole expansion
  JVM-side and map-only — each input row expands independently, no
  shuffle at all.
- :func:`embedding_quantize` — per-vector symmetric int8 quantization
  (max-abs scale), plus reconstruction-error audit. Higher-order
  ``aggregate``/``transform`` over the ``array<float>`` column — map-only,
  no Python. The audit columns (checksum + max error) are what you ship to
  a data-quality dashboard when you quantize a 10B-vector corpus.
- :func:`benchmark_contamination` — n-gram-overlap decontamination: flag
  corpus documents sharing any word-3-gram shingle with a held-out
  benchmark set (stand-in: ``doc_id % 50 == 0``). The benchmark side is
  tiny by construction, so its distinct shingle set **broadcasts** and the
  corpus-side probe is map-side — one groupBy(doc_id) shuffle of
  already-matched rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fold_hash, fold_hash_duck
from .dedup import _SHINGLE_DUCK, _exploded_shingles, _shingles

Tables = dict[str, DataFrame]

#: token-window chunking: 64-token chunks starting every 48 tokens
#: (16-token overlap between consecutive chunks).
CHUNK_LEN = 64
CHUNK_STRIDE = 48

#: every 50th doc_id plays the held-out benchmark set.
CONTAM_BENCH_MOD = 50


def doc_chunks(t: Tables) -> DataFrame:
    """Overlapping fixed-length token chunks per document.

    One chunk starts every ``CHUNK_STRIDE`` tokens; each spans up to
    ``CHUNK_LEN``. ``chunk_md5`` stands in for the chunk payload so the
    oracle compares fixed-width values instead of shipping token arrays.
    Map-only (PLANS.md: 0 shuffles) — the expansion factor is
    ~n_tokens/stride per row, amortized by Spark's per-partition pipelining.
    """
    ws = F.split(F.trim("text"), r"\s+")
    d = t["documents"].select("doc_id", ws.alias("ws"))
    starts = F.sequence(F.lit(1), F.size("ws"), F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("ws"), F.col("start"), CHUNK_LEN)
    return d.select(
        "doc_id", "ws", F.posexplode(starts).alias("chunk_id", "start")
    ).select(
        "doc_id",
        "chunk_id",
        "start",
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def embedding_quantize(t: Tables) -> DataFrame:
    """Symmetric int8 quantization audit per embedding vector.

    ``scale`` = max |x|; each element quantizes to
    ``floor(127·x/scale + 0.5)`` (floor(x+0.5) — identical IEEE semantics
    in Spark and DuckDB, unlike engine-specific ``round``). ``q_sum``
    checksums the quantized vector; ``max_abs_err`` is the worst
    reconstruction error — the quality bound you'd monitor corpus-wide.
    """
    e = t["embeddings"]
    scale = F.expr(
        "aggregate(embedding, cast(0 as double),"
        " (acc, x) -> greatest(acc, abs(cast(x as double))))"
    )
    d = e.select("vec_id", "embedding", scale.alias("scale"))
    q = (
        "floor(127 * cast(x as double) / scale + 0.5)"
    )
    q_sum = F.expr(
        f"aggregate(embedding, cast(0 as bigint), (acc, x) -> acc + cast({q} as bigint))"
    )
    max_err = F.expr(
        "aggregate(embedding, cast(0 as double), (acc, x) -> "
        f"greatest(acc, abs(cast(x as double) - {q} * scale / 127)))"
    )
    return d.where(F.col("scale") > 0).select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        q_sum.alias("q_sum"),
        F.round(max_err, 6).alias("max_abs_err"),
    )


def benchmark_contamination(t: Tables) -> DataFrame:
    """Benchmark-overlap contamination scores for corpus documents.

    Returns every non-benchmark document with ≥3 tokens: its distinct
    3-gram count, how many of those appear in any benchmark document, and
    the contamination flag. At 100 TB the benchmark shingle set stays
    KB–MB-sized → broadcast; only matched rows reach the count shuffle.
    """
    docs = t["documents"]
    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == 0
    bench_sh = (
        _exploded_shingles(docs.where(is_bench))
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = _shingles(docs.where(~is_bench)).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    return (
        corpus.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
        )
        .withColumn("contaminated", F.col("n_shared") > 0)
    )


#: span dedup: fixed 8-token spans; a span occurring in ≥2 documents is
#: "boilerplate" and removed from every document carrying it.
SPAN_WORDS = 8
DUP_SPAN_MIN_DOCS = 2


def span_dedup(t: Tables) -> DataFrame:
    """Cross-corpus duplicated-span removal — the C4/CCNet "drop duplicated
    lines" curation step at fixed span granularity (exact-substring dedup
    à la deduplicating-training-data, approximated on 8-token spans since
    this corpus has no newlines).

    Shape at 100 TB: span extraction is map-only; the hot-span set (spans
    in ≥ ``DUP_SPAN_MIN_DOCS`` docs) is a groupBy on md5(span) — an 8-byte-
    class shuffle key — and is tiny relative to the corpus (boilerplate by
    definition repeats), so the removal pass is a broadcast left join plus
    one groupBy(doc_id). Outputs per document: span counts, how many were
    boilerplate, and the md5 of the cleaned (kept-spans) text for
    downstream verification.
    """
    ws = F.split(F.trim("text"), r"\s+")
    n_spans = F.ceil(F.size("ws") / F.lit(SPAN_WORDS)).cast("int")
    spans = (
        t["documents"]
        .select("doc_id", ws.alias("ws"))
        .select("doc_id", "ws", F.explode(F.sequence(F.lit(1), n_spans)).alias("i"))
        .select(
            "doc_id",
            "i",
            F.array_join(
                F.slice("ws", (F.col("i") - 1) * SPAN_WORDS + 1, SPAN_WORDS), " "
            ).alias("span"),
        )
        .withColumn("k", F.md5("span"))
    )
    from ..tables import persist_replacing

    # feeds the hot-set aggregation AND the removal join; slot-bounded
    spans = persist_replacing(spans, "span_dedup_spans")
    hot = (
        spans.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= DUP_SPAN_MIN_DOCS)
        .select("k", F.lit(1).alias("hot"))
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("hot").isNull(), F.struct("i", "span"))
            )
        ),
        lambda s: s["span"],
    )
    return (
        spans.join(F.broadcast(hot), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce("hot", F.lit(0))).alias("n_dup_spans"),
            F.md5(F.array_join(kept_sorted, " ")).alias("cleaned_md5"),
        )
    )


#: content-defined chunking: a word whose portable hash ≡ 0 (mod CDC_MOD)
#: ENDS its chunk, so expected chunk length is CDC_MOD words. 12 ≈ the
#: span/chunk granularity of the fixed-position variants above.
CDC_MOD = 12


def cdc_chunks(t: Tables) -> DataFrame:
    """Content-defined chunking — the dedup granularity between
    :func:`span_dedup` (fixed word positions) and whole-document hashing.

    Boundaries depend only on CONTENT (a word is a cut point iff its
    portable hash ≡ 0 mod ``CDC_MOD``), which is the entire argument for
    CDC in dedup: inserting one word near the top of a document shifts
    every fixed-position span but leaves all chunk boundaries after the
    edit untouched, so unchanged tails still hash-match across document
    versions. Output is one row per chunk with its token count, md5, and
    a ``cross_doc_dup`` flag (the chunk text occurs in more than one
    document) — the sub-document exact-dedup signal.

    Plan: the cut-point rule is evaluated once per DISTINCT word (the
    ``cms_bigram_check`` trick — the interpreted char-fold is the
    expensive expression, and |vocab| ≪ |occurrences|) and broadcast back
    onto the exploded words; chunk ids are an exclusive running sum of
    boundary flags per document (one doc-partitioned window shuffle);
    chunk assembly is the following groupBy on the same key spine. The
    dup flag is a chunk-hash-partitioned min≠max window — no DISTINCT
    aggregate, no self-join. Per-doc state is bounded by document length,
    per-chunk state by CDC_MOD-ish words; nothing corpus-sized sits in
    one partition at 100 TB.
    """
    from pyspark.sql import Window

    toks = t["documents"].select(
        "doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "w")
    )
    vocab = (
        toks.select("w")
        .distinct()
        .select("w", (fold_hash("w") % CDC_MOD == 0).cast("long").alias("b"))
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = toks.join(F.broadcast(vocab), "w").select(
        "doc_id",
        "pos",
        "w",
        F.coalesce(F.sum("b").over(w_run), F.lit(0)).alias("chunk_id"),
    )
    chunks = (
        marked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_chunk_tokens"),
            F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("parts"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.md5(
                F.array_join(F.expr("transform(parts, x -> x.w)"), " ")
            ).alias("chunk_md5"),
        )
    )
    w_h = Window.partitionBy("chunk_md5")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        "chunk_md5",
        (F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h)).alias(
            "cross_doc_dup"
        ),
    )


ORACLES: dict[str, str] = {
    "cdc_chunks": f"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ),
        toks AS (
          SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                 ws[CAST(pos AS INTEGER)] AS w
          FROM w, unnest(generate_series(1, len(ws))) AS u(pos)
        ),
        vocab AS (
          SELECT w,
                 CASE WHEN {fold_hash_duck("w")} % {CDC_MOD} = 0
                      THEN 1 ELSE 0 END AS b
          FROM (SELECT DISTINCT w FROM toks)
        ),
        marked AS (
          SELECT doc_id, pos, toks.w,
                 coalesce(sum(b) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS chunk_id
          FROM toks JOIN vocab ON toks.w = vocab.w
        ),
        chunks AS (
          SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                 CAST(count(*) AS BIGINT) AS n_chunk_tokens,
                 md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
          FROM marked GROUP BY doc_id, chunk_id
        )
        SELECT doc_id, chunk_id, n_chunk_tokens, chunk_md5,
               min(doc_id) OVER (PARTITION BY chunk_md5)
                 != max(doc_id) OVER (PARTITION BY chunk_md5) AS cross_doc_dup
        FROM chunks
    """,
    "span_dedup": f"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ),
        s AS (
          SELECT doc_id, sp['i'] AS i, sp['span'] AS span,
                 md5(sp['span']) AS k
          FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, CAST(ceil(len(ws) / {SPAN_WORDS}.0) AS BIGINT)),
                     i -> {{'i': i,
                           'span': array_to_string(
                             ws[(i - 1) * {SPAN_WORDS} + 1 : i * {SPAN_WORDS}], ' ')}}
                   )) AS sp
            FROM w
          )
        ),
        hot AS (
          SELECT k FROM s GROUP BY k
          HAVING count(DISTINCT doc_id) >= {DUP_SPAN_MIN_DOCS}
        )
        SELECT s.doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN hot.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans,
               md5(coalesce(
                 string_agg(CASE WHEN hot.k IS NULL THEN s.span END, ' '
                            ORDER BY s.i), '')) AS cleaned_md5
        FROM s LEFT JOIN hot ON s.k = hot.k
        GROUP BY s.doc_id
    """,
    "doc_chunks": f"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        )
        SELECT doc_id,
               CAST((start - 1) / {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
               CAST(start AS INTEGER) AS start,
               CAST(len(list_slice(ws, start, start + {CHUNK_LEN} - 1)) AS INTEGER)
                 AS n_chunk_tokens,
               md5(array_to_string(
                 list_slice(ws, start, start + {CHUNK_LEN} - 1), ' ')) AS chunk_md5
        FROM w, unnest(generate_series(1, len(ws), {CHUNK_STRIDE})) AS u(start)
    """,
    "embedding_quantize": """
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   AS scale
          FROM embeddings
        )
        SELECT vec_id,
               round(scale, 6) AS scale_r,
               CAST(list_sum(list_transform(embedding,
                 x -> CAST(floor(127 * CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
                 AS BIGINT) AS q_sum,
               round(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)
                          - floor(127 * CAST(x AS DOUBLE) / scale + 0.5)
                            * scale / 127))), 6) AS max_abs_err
        FROM s WHERE scale > 0
    """,
    "benchmark_contamination": f"""
        WITH {_SHINGLE_DUCK},
        bench AS (
          SELECT DISTINCT sh FROM e WHERE doc_id % {CONTAM_BENCH_MOD} = 0
        )
        SELECT e.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared,
               sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
                 AS contaminated
        FROM e LEFT JOIN bench ON e.sh = bench.sh
        WHERE e.doc_id % {CONTAM_BENCH_MOD} != 0
        GROUP BY e.doc_id
    """,
}

QUERIES = {
    "cdc_chunks": cdc_chunks,
    "doc_chunks": doc_chunks,
    "embedding_quantize": embedding_quantize,
    "benchmark_contamination": benchmark_contamination,
    "span_dedup": span_dedup,
}
