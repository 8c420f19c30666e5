"""Storage layout gates: file skipping on range-clustered and Z-ordered
layouts, sketch percentile accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.storage import write_range_clustered
from streamming_processing_pyspark_spark.tables import load_table

from .conftest import SF_DIR


def test_range_clustered_layout_skips_files(spark, tmp_path):
    """Range-clustered layout: files cover disjoint value ranges, so a
    range predicate reads a strict subset of files (row-group/file skipping
    via min-max stats) and results stay correct."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "events_by_user")
    write_range_clustered(ev, path, "user_id", n_files=8)
    back = spark.read.parquet(path)
    # correctness: same rows
    assert back.count() == ev.count()
    # two adjacent key values can span at most 2 of the disjoint ranges
    lo = back.where(F.col("user_id") < 2)
    hit_files = {r[0] for r in lo.select(F.input_file_name()).distinct().collect()}
    all_files = {
        r[0] for r in back.select(F.input_file_name()).distinct().collect()
    }
    assert len(all_files) >= 4
    assert len(hit_files) <= 2, (len(hit_files), len(all_files))
    assert lo.count() == ev.where(F.col("user_id") < 2).count()


def test_approx_percentiles_accuracy(spark):
    """Sketch percentiles must sit within tight rank error of the exact
    interpolated ones (approx_percentile returns an actual data value, so
    compare against exact at a generous-but-bounded tolerance)."""
    from streamming_processing_pyspark_spark.operators.relational2 import (
        approx_percentiles_by_type,
        percentiles_by_type,
    )
    from streamming_processing_pyspark_spark.tables import load_tables

    t = load_tables(spark, SF_DIR)
    exact = {r["event_type"]: r for r in percentiles_by_type(t).collect()}
    approx = {r["event_type"]: r for r in approx_percentiles_by_type(t).collect()}
    assert set(exact) == set(approx)
    for et, er in exact.items():
        ar = approx[et]
        spread = max(abs(er["p75"]), abs(er["p25"]), 1.0)
        for q in ("p25", "p50", "p75"):
            assert abs(er[q] - ar[q]) <= 0.05 * spread, (et, q, er[q], ar[q])


def test_zordered_layout_skips_files_on_both_dims(spark, tmp_path):
    """Z-order: a narrow predicate on EITHER interleaved column reads a
    strict subset of files (range-clustering only delivers this for its
    single clustering column)."""
    from streamming_processing_pyspark_spark.storage import write_zordered

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "events_z")
    write_zordered(ev, path, "user_id", "value", n_files=16)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    all_files = {r[0] for r in back.select(F.input_file_name()).distinct().collect()}
    assert len(all_files) >= 8
    # rows-narrow predicate on each dimension (5th percentile cut)
    cut_u, cut_v = (
        ev.approxQuantile("user_id", [0.05], 0.0)[0],
        ev.approxQuantile("value", [0.05], 0.0)[0],
    )
    for col, cut in (("user_id", cut_u), ("value", cut_v)):
        narrow = back.where(F.col(col) <= cut)
        hit = {r[0] for r in narrow.select(F.input_file_name()).distinct().collect()}
        assert len(hit) < len(all_files), (col, len(hit), len(all_files))
        assert narrow.count() == ev.where(F.col(col) <= cut).count()
    # the Z-order win over single-column range clustering: clustering on
    # user_id alone leaves a value predicate reading EVERY file
    rpath = str(tmp_path / "events_r")
    write_range_clustered(ev, rpath, "user_id", n_files=16)
    rback = spark.read.parquet(rpath)
    r_all = {r[0] for r in rback.select(F.input_file_name()).distinct().collect()}
    r_hit = {
        r[0]
        for r in rback.where(F.col("value") <= cut_v)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    z_hit = {
        r[0]
        for r in back.where(F.col("value") <= cut_v)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert len(r_hit) == len(r_all)  # no skipping without value in the layout
    assert len(z_hit) < len(all_files)
