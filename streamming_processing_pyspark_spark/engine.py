"""User-facing engine facade.

A user of the reference project drives four scripts; a user of this engine
drives one object. The facade bundles session construction, the taxi
ingest path, the named query registry, and the streaming jobs into the
surface a migrating user needs.

    from streamming_processing_pyspark_spark.engine import Engine

    eng = Engine()                               # or Engine(existing_spark)
    trips = eng.taxi_trips("taxi-data/")          # batch, normalized
    eng.hourly_counts(trips).show()               # Task2
    eng.geofence_hourly(trips).show()             # Task3 (fixed sinks)
    q = eng.stream_hourly_to_files("taxi-data/", "out/")   # Task2 streaming
    eng.query("q1_pricing_summary").show()        # any registry query
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import build_oracles, build_queries
from .session import get_spark
from .sources import taxi_csv
from .streaming import jobs
from .tables import DEFAULT_SF_DIR, load_tables


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir or DEFAULT_SF_DIR
        self._queries = build_queries()
        self._oracles = build_oracles()

    # -- ingest ---------------------------------------------------------
    def taxi_trips(self, path: str) -> DataFrame:
        """Batch-read a ragged taxi CSV directory → normalized trips."""
        return taxi_csv.normalize_trips(taxi_csv.read_taxi_csv(self.spark, path))

    def taxi_trips_stream(self, path: str, max_files_per_trigger: int = 60) -> DataFrame:
        return taxi_csv.normalize_trips(
            taxi_csv.stream_taxi_csv(self.spark, path, max_files_per_trigger)
        )

    def taxi_lines_replay(self, path: str, minutes_per_batch: int = 60) -> DataFrame:
        """Raw taxi lines as a paced, checkpointable stream (the
        ``taxi_replay`` Python data source — replaces the reference's
        missing Server.py producer)."""
        from .sources.replay_source import replay_lines

        return replay_lines(self.spark, path, minutes_per_batch)

    def metrics(self, max_batches: int = 1000):
        """Attach and return a per-batch streaming metrics listener."""
        from .streaming.metrics import attach_metrics

        return attach_metrics(self.spark, max_batches)

    def quality_report(self, sf_dir: str | None = None) -> DataFrame:
        """Deequ-style data-quality constraint report over ``events``."""
        from .operators.profiling import data_quality_checks

        return data_quality_checks(self.tables(sf_dir))

    def tables(self, sf_dir: str | None = None) -> dict[str, DataFrame]:
        """Load + register the synthetic test tables as temp views.

        The facade keeps the EAGER contract (``eng.tables(); eng.sql(...)``
        must resolve every view) by materializing the lazy mapping; the
        registry's per-query path uses the lazy form directly so a query
        only lists/loads the tables it touches."""
        return dict(load_tables(self.spark, sf_dir or self.sf_dir))

    # -- reference analytics -------------------------------------------
    hourly_counts = staticmethod(jobs.hourly_dropoff_counts)
    geofence_hourly = staticmethod(jobs.geofence_hourly)
    geofence_10min = staticmethod(jobs.geofence_10min_counts)
    detect_trends = staticmethod(jobs.detect_trends_in_batch)

    def stream_hourly_to_files(
        self, taxi_path: str, out_dir: str, checkpoint_dir: str | None = None
    ):
        """Task2 end-to-end: stream → hourly windows → reference-named files."""
        return self._stream_to_files(
            jobs.hourly_dropoff_counts, jobs.write_hourly_files,
            taxi_path, out_dir, checkpoint_dir,
        )

    def stream_geofence_to_files(
        self, taxi_path: str, out_dir: str, checkpoint_dir: str | None = None
    ):
        """Task3 end-to-end with per-window-correct contents."""
        return self._stream_to_files(
            jobs.geofence_hourly, jobs.write_geofence_files,
            taxi_path, out_dir, checkpoint_dir,
        )

    def _stream_to_files(self, aggregate, write, taxi_path, out_dir, checkpoint_dir):
        """Stream ``taxi_path`` through ``aggregate`` and ``write`` each
        update-mode batch into ``out_dir``."""
        return jobs.run_foreach_batch(
            aggregate(self.taxi_trips_stream(taxi_path)),
            lambda df, _id: write(df, out_dir),
            "update",
            checkpoint_dir,
        )

    # -- registry -------------------------------------------------------
    def list_queries(self) -> list[str]:
        return sorted(self._queries)

    def query(self, name: str, sf_dir: str | None = None) -> DataFrame:
        """Run a named query from the registry against the test tables."""
        return self._queries[name](self.spark, sf_dir or self.sf_dir)

    def oracle(self, name: str) -> str | None:
        """The DuckDB-SQL oracle for a named query (None = rows-only op)."""
        return self._oracles.get(name)

    def sql(self, statement: str) -> DataFrame:
        return self.spark.sql(statement)
