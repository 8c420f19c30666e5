"""Ragged multi-format taxi CSV ingestion — the reference's ingest contract.

The reference reads headerless CSV directories where each file mixes two row
formats (yellow: 20 fields, green: 22 fields) under one fixed 24-column
union schema, relying on Spark's PERMISSIVE-mode *positional* binding:
short rows null-pad, un-coercible fields become null, and the two formats
agree on positions 1–4 so the shared drop-off timestamp (position 4) drives
every window (SURVEY.md §1.3; reference ``Task3.py:17-42``).

That positional trick is part of the engine contract and is kept verbatim;
the engine then immediately normalizes into one canonical ``trips`` frame so
no downstream operator ever touches the raw union columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 24-column positional union schema (reference Task3.py:17-42, Task4.py:28-53).
# Coordinates are DoubleType, not the reference's FloatType: the raw data
# carries 15+ significant digits and Double is strictly more faithful with
# unchanged semantics (SURVEY.md §1.4).
UNION_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("VendorID", T.IntegerType()),
        T.StructField("lpep_pickup_datetime", T.TimestampType()),
        T.StructField("Lpep_dropoff_datetime", T.TimestampType()),
        T.StructField("Store_and_fwd_flag", T.StringType()),
        T.StructField("RateCodeID", T.IntegerType()),
        T.StructField("Pickup_longitude", T.DoubleType()),
        T.StructField("Pickup_latitude", T.DoubleType()),
        T.StructField("Green_Dropoff_longitude", T.DoubleType()),
        T.StructField("Green_Dropoff_latitude", T.DoubleType()),
        T.StructField("Yellow_Dropoff_longitude", T.DoubleType()),
        T.StructField("Yellow_Dropoff_latitude", T.DoubleType()),
        T.StructField("Passenger_count", T.IntegerType()),
        T.StructField("Trip_distance", T.DoubleType()),
        T.StructField("Fare_amount", T.DoubleType()),
        T.StructField("Extra", T.DoubleType()),
        T.StructField("MTA_tax", T.DoubleType()),
        T.StructField("Tip_amount", T.DoubleType()),
        T.StructField("Tolls_amount", T.DoubleType()),
        T.StructField("Ehail_fee", T.DoubleType()),
        T.StructField("improvement_surcharge", T.DoubleType()),
        T.StructField("Total_amount", T.DoubleType()),
        T.StructField("Payment_type", T.IntegerType()),
        T.StructField("Trip_type", T.IntegerType()),
    ]
)


def _union_csv(reader, path: str) -> DataFrame:
    """``path`` read by ``reader`` (batch or stream) under the ingest
    contract: headerless, union schema, PERMISSIVE mode — explicit, since
    null-padding/null-coercion is load-bearing (SURVEY.md §1.3
    "implication")."""
    return (
        reader.schema(UNION_SCHEMA)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_taxi_csv(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a ragged taxi CSV directory under the union schema."""
    return _union_csv(spark.read, path)


def stream_taxi_csv(
    spark: SparkSession, path: str, max_files_per_trigger: int = 60
) -> DataFrame:
    """File-stream read: poll the directory, ≤N new files per micro-batch
    (reference Task2.py:36-42; S1 in SURVEY.md §2.1).

    ``latestFirst`` is left false and ordering is still not guaranteed —
    downstream logic must be file-order-independent (the determinism
    property the reference lacked, SURVEY.md §5.2).
    """
    return _union_csv(
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger), path
    )


def normalize_trips(raw: DataFrame) -> DataFrame:
    """Canonical trips frame: ``type, dropoff_ts, dropoff_lon, dropoff_lat``.

    Coalesce-by-type over the positional union columns (reference
    Task3.py:78-81 did this through a no-op Python UDF; here it is a pure
    Column conditional — P5 without the U2 de-optimization).
    """
    is_yellow = F.col("type") == "yellow"
    return raw.select(
        "type",
        F.col("Lpep_dropoff_datetime").alias("dropoff_ts"),
        F.when(is_yellow, F.col("Yellow_Dropoff_longitude"))
        .otherwise(F.col("Green_Dropoff_longitude"))
        .alias("dropoff_lon"),
        F.when(is_yellow, F.col("Yellow_Dropoff_latitude"))
        .otherwise(F.col("Green_Dropoff_latitude"))
        .alias("dropoff_lat"),
    )
