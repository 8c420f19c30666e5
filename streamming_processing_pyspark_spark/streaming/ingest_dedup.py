"""Continuous ingest-dedup loop: streaming corpus building with exact +
near-dup suppression against everything already ingested.

The batch dedup ladder (``operators/dedup.py``) answers "dedup this
corpus"; a production pipeline instead faces "documents arrive forever —
keep only what's new". This module runs that loop as a Structured
Streaming ``foreachBatch`` job:

per micro-batch of documents →
  1. intra-batch exact dedup (keep min doc_id per text),
  2. exact check against the corpus (anti-join on md5 — fixed-width keys),
  3. near-dup check against the corpus BAND INDEX (banded MinHash probe;
     corpus band buckets over ``BAND_BUCKET_CAP`` docs dropped; candidates
     verified with exact Jaccard — cost ∝ candidates),
  4. survivors appended to the corpus table AND the band index.

The corpus directory holds two parquet tables that grow batch-over-batch:
``docs/`` (the canonical surviving documents) and ``bands/`` (their
MinHash band keys — the probe index). At 100 TB the band index is the
only thing a new drop joins against (bucketed by band key it probes
shuffle-free), and verification pulls only the candidate old documents'
texts — never the whole corpus. Each append writes new files only
(``mode=append``), so a batch is one sequential write, no rewrite of
history.

Exactly-once: with a checkpoint, a replayed micro-batch re-derives the
same survivors; dedup against the corpus makes the re-append idempotent
for exact replays EXCEPT that the replayed rows themselves were already
appended — production puts the append behind the same transactional sink
as any foreachBatch writer (Delta/Iceberg txn, or batch-id subdirs +
manifest). The loop here keeps plain parquet for environment parity and
documents the txn seam.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    BAND_BUCKET_CAP,
    _banded,
    _posting,
    _shingles,
    _signatures_from_shingles,
    _verify_jaccard,
)
from .jobs import run_foreach_batch


def _docs_dir(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "docs")


def _bands_dir(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "bands")


def _corpus_exists(spark: SparkSession, corpus_dir: str) -> bool:
    d = _docs_dir(corpus_dir)
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for f in os.listdir(d)
    )


def _band_candidates(b_bands: DataFrame, bands: DataFrame) -> DataFrame:
    """(new_id, old_id): batch docs × corpus docs sharing a band key. A
    corpus bucket holding more than ``BAND_BUCKET_CAP`` docs is dropped
    before the join, the hot-bucket bound of every dedup band join: one
    template family's shared band key would otherwise make one task
    build |batch bucket| × |corpus bucket| candidates and verify each."""
    corpus = _posting(bands, "doc_id", "bk").where(
        F.size("ds") <= BAND_BUCKET_CAP
    )
    return (
        b_bands.select(F.col("doc_id").alias("new_id"), "bk")
        .join(corpus.select("bk", F.explode("ds").alias("old_id")), "bk")
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )


def ingest_batch(batch_df: DataFrame, corpus_dir: str) -> None:
    """One micro-batch through the dedup ladder; appends survivors."""
    spark = batch_df.sparkSession
    # 1. intra-batch exact dedup, keep the smallest id per text
    batch = (
        batch_df.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    if _corpus_exists(spark, corpus_dir):
        corpus = spark.read.parquet(_docs_dir(corpus_dir))
        # 2. exact suppression: anti-join on fixed-width hash
        seen = corpus.select(F.md5("text").alias("h")).distinct()
        batch = (
            batch.withColumn("h", F.md5("text"))
            .join(seen, "h", "left_anti")
            .drop("h")
        )
        batch = batch.localCheckpoint()  # reused by shingle + band + filter
        # 3. near-dup suppression via the band index
        bands = spark.read.parquet(_bands_dir(corpus_dir))
        b_sh = _shingles(batch).localCheckpoint()
        b_bands = _banded(_signatures_from_shingles(b_sh))
        cands = _band_candidates(b_bands, bands)
        # verify on candidate docs ONLY: shingle just the matched corpus rows
        old_ids = cands.select(F.col("old_id").alias("doc_id")).distinct()
        o_sh = _shingles(corpus.join(old_ids, "doc_id"))
        near_ids = (
            _verify_jaccard(cands, b_sh.unionAll(o_sh), "new_id", "old_id")
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        survivors = batch.join(near_ids, "doc_id", "left_anti")
    else:
        survivors = batch.localCheckpoint()
    # 4. append survivors + their band keys (new files only, no rewrite)
    survivors.write.mode("append").parquet(_docs_dir(corpus_dir))
    _banded(_signatures_from_shingles(_shingles(survivors))).write.mode(
        "append"
    ).parquet(_bands_dir(corpus_dir))


def run_streaming_ingest_dedup(
    doc_stream: DataFrame, corpus_dir: str, checkpoint_dir: str | None = None
):
    """Drive the ingest loop over a streaming documents frame
    (``doc_id``, ``text``). Returns the StreamingQuery."""
    return run_foreach_batch(
        doc_stream,
        lambda df, _id: ingest_batch(df, corpus_dir),
        "append",
        checkpoint_dir,
    )
