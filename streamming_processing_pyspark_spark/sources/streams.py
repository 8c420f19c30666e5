"""Streaming sources: file streams over the testdata tables, socket lines.

``stream_events`` turns the driver's ``events`` parquet into a real
Structured Streaming source (schema pinned from a batch read — streaming
reads require a declared schema), including the same nanos→micros timestamp
normalization as the batch loader so streaming and batch results are
comparable row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import _normalize_ts, load_table, raw_events


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file stream (one-file directory; real deployments point
    this at an arriving-files directory or Kafka)."""
    return stream_parquet_table(spark, sf_dir, "events")


def stream_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Generic file-stream over any testdata table; events are read raw
    and normalized as the batch loader does."""
    events = name == "events"
    batch = raw_events(spark, sf_dir) if events else load_table(spark, sf_dir, name)
    df = (
        spark.readStream.schema(batch.schema)
        # file sources stream over directories; select just the table's file
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(df) if events else df


def socket_lines(spark: SparkSession, host: str = "localhost", port: int = 10002) -> DataFrame:
    """TCP text-line stream (reference Client.py:17-20, S2), Structured
    Streaming socket source instead of the legacy DStream receiver."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
