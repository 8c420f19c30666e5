"""Single-pass pipeline observability via ``DataFrame.observe``.

At 100 TB you cannot afford a second corpus scan just to know what the
ingest pass saw: data-quality counters must piggyback on the pass that
does the real work. Spark's ``CollectMetrics`` node (``df.observe``) is
exactly that — named aggregate accumulators evaluated inline on the
rows flowing through one plan point, delivered to the driver when the
action completes (batch: ``Observation.get``; streaming: per-batch
``StreamingQueryProgress.observedMetrics``). Zero extra scans, zero
extra shuffles; the metrics travel with the task results.

This module registers the pattern as checked queries:

- ``observed_gate_metrics`` — ONE pass over ``documents`` that applies
  the Gopher quality gate; the observation on the scan records corpus
  ingest metrics (row/empty-text counts, char totals and extrema) while
  the action that triggers them is the downstream gated count. The
  returned single row carries both, hash-matched against a DuckDB
  recomputation.
- ``streaming_observed_metrics`` — the streaming twin: the same
  observation attached to the documents file stream; per-micro-batch
  metric rows are folded (sums of sums, min of mins, max of maxes)
  into the identical totals, so the SAME oracle checks that batch and
  streaming observability agree.

Reference scope note: the reference project (``/root/reference``) has
no observability surface; this extends the engine for the 100 TB
training-data use case per SURVEY.md §7 phase 4.

The contrast with :mod:`.profiling`'s ``data_quality_checks`` (also
single-scan) is the attachment point: that query's OUTPUT is the
metrics; here the metrics ride along a pass whose output is the gated
corpus — the production shape, where the scan is paid for by the
pipeline itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import local_df

from .sampling import gopher_keep_col

Tables = dict[str, DataFrame]

#: observation / metric-row schema shared by the batch and streaming forms
METRICS_SCHEMA = (
    "n_rows bigint, n_empty_text bigint, total_chars bigint, "
    "min_chars bigint, max_chars bigint, n_pass bigint"
)

def _metric_cols() -> list:
    """The observed aggregates (all non-distinct — a ``CollectMetrics``
    requirement). Extrema are coalesced so an empty corpus yields a
    well-defined all-zero row instead of nulls."""
    empty = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(empty.cast("long")), F.lit(0).cast("long")
        ).alias("n_empty_text"),
        F.coalesce(F.sum("n_chars"), F.lit(0).cast("long")).alias("total_chars"),
        F.coalesce(F.min("n_chars"), F.lit(0).cast("long")).alias("min_chars"),
        F.coalesce(F.max("n_chars"), F.lit(0).cast("long")).alias("max_chars"),
    ]


def gated_pass(docs: DataFrame, observer) -> DataFrame:
    """The observed ingest pass: metrics accumulate ON the scan, the
    Gopher gate filters downstream of the observation point (so the
    metrics describe the raw corpus, not the survivors)."""
    return docs.observe(observer, *_metric_cols()).where(gopher_keep_col())


def observed_gate_metrics(t: Tables) -> DataFrame:
    """One row: raw-corpus ingest metrics + gated survivor count, all
    from a single ``documents`` scan.

    The gated count is the action that flushes the observation — the
    plan is scan → CollectMetrics → filter → count, one job, one scan
    (pinned in tests/test_plans.py::test_observe_single_scan).
    """
    docs = t["documents"]
    spark = docs.sparkSession
    obs = Observation("ingest")
    n_pass = gated_pass(docs, obs).count()
    m = obs.get
    return local_df(
        spark,
        [
            (
                m["n_rows"],
                m["n_empty_text"],
                m["total_chars"],
                m["min_chars"],
                m["max_chars"],
                n_pass,
            )
        ],
        METRICS_SCHEMA,
    )


def fold_batch_metrics(rows: list[dict], n_pass: int, spark: SparkSession) -> DataFrame:
    """Fold per-micro-batch observed-metric rows into corpus totals.

    Counts and sums add; extrema fold by min/max. Batches that saw no
    rows contribute zero counts and must not drag the extrema to their
    coalesced 0 — they are skipped for min/max.
    """
    n_rows = sum(r["n_rows"] for r in rows)
    n_empty = sum(r["n_empty_text"] for r in rows)
    total = sum(r["total_chars"] for r in rows)
    nonempty = [r for r in rows if r["n_rows"] > 0]
    mn = min((r["min_chars"] for r in nonempty), default=0)
    mx = max((r["max_chars"] for r in nonempty), default=0)
    return local_df(
        spark,
        [(n_rows, n_empty, total, mn, mx, n_pass)], METRICS_SCHEMA
    )


def streaming_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`observed_gate_metrics`: the observation
    (string-named — ``Observation`` objects are batch-only) rides the
    documents file stream; the gated rows drain append-mode to a memory
    sink (stateless passthrough — no aggregation state), and each
    micro-batch's ``observedMetrics`` row is folded into the same
    totals the batch form reports. State cost: none; metric cost: one
    row per batch in query progress."""
    from ..sources.streams import stream_parquet_table
    from ..streaming.jobs import run_to_memory, sink_frame

    docs = stream_parquet_table(spark, sf_dir, "documents")
    gated = gated_pass(docs, "ingest").select("doc_id")
    q, table = run_to_memory(gated, "append")
    rows = [
        dict(p.observedMetrics["ingest"].asDict())
        for p in q.recentProgress
        if "ingest" in (p.observedMetrics or {})
    ]
    n_pass = sink_frame(spark, q, table).count()
    return fold_batch_metrics(rows, n_pass, spark)


# the Gopher gate recomputation (shared with campaign.py's oracle — same
# constants, independently spelled there; here we import the one source
# of truth lazily to avoid a circular import at module load)
def _gate_cte() -> str:
    from .campaign import _GATE_DUCK

    return _GATE_DUCK


def _oracle() -> str:
    return f"""
        WITH {_gate_cte()}
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(CASE WHEN text IS NULL OR trim(text) = ''
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_empty_text,
               CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars,
               CAST(coalesce(min(n_chars), 0) AS BIGINT) AS min_chars,
               CAST(coalesce(max(n_chars), 0) AS BIGINT) AS max_chars,
               (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_pass
        FROM documents
    """


ORACLES: dict[str, str] = {
    "observed_gate_metrics": _oracle(),
}

QUERIES = {
    "observed_gate_metrics": observed_gate_metrics,
}
