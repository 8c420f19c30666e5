"""Streaming layer: window aggs, sinks, determinism, recovery, statefulness.

Covers SURVEY.md §5.4's test strategy: stream/batch parity, file-order
independence (the property the reference lacked, §5.2), per-window-correct
sink files (fixing §5.3), checkpoint recovery, and cross-batch trend
detection.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time

import pytest
from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.sources.taxi_csv import (
    normalize_trips,
    read_taxi_csv,
    stream_taxi_csv,
)
from streamming_processing_pyspark_spark.streaming.jobs import (
    detect_trends_in_batch,
    geofence_10min_counts,
    geofence_hourly,
    hourly_dropoff_counts,
    hourly_file_name,
    run_foreach_batch,
    run_to_memory,
    word_counts_stream,
    write_geofence_files,
    write_hourly_files,
)
from streamming_processing_pyspark_spark.streaming import jobs as jobs_module
from streamming_processing_pyspark_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    LOCAL_CHECKPOINT_MANAGER,
)
from streamming_processing_pyspark_spark.streaming.trend import trending_stateful
from streamming_processing_pyspark_spark.tables import load_table

from .conftest import SF_DIR

from .taxi_fixture import (
    CITIGROUP_INSIDE,
    EXPECTED_GEOFENCE_HOURLY,
    EXPECTED_HOURLY,
    default_plan,
    write_taxi_files,
    yellow_row,
)


@pytest.fixture(params=["hdfs", "rocksdb"], autouse=True)
def state_store(request, spark):
    """Run the streaming matrix under BOTH state-store providers
    (VERDICT r7 §5: only two hand-picked tests exercised RocksDB, so the
    100 TB large-state claim rested on the on-heap default). The provider
    class is a runtime conf read at query start, so flipping it per test
    is safe on the shared session; checkpoints live under per-test
    tmp_path/memory-sink names, so state never crosses providers."""
    from streamming_processing_pyspark_spark.session import (
        STATE_STORE_PROVIDERS,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, STATE_STORE_PROVIDERS[request.param])
    yield request.param
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def _trips_stream(spark, d, max_files=1):
    return normalize_trips(stream_taxi_csv(spark, d, max_files_per_trigger=max_files))


def test_streaming_hourly_counts_match_batch(spark, tmp_path):
    d = str(tmp_path / "taxi")
    write_taxi_files(d, default_plan())
    q, table = run_to_memory(_trips_stream(spark, d) .transform(hourly_dropoff_counts), "complete")
    try:
        got = {r["hour_of_day"]: r["cnt"] for r in spark.table(table).collect()}
    finally:
        q.stop()
    # window [10:00,11:00) has end-hour 11 (reference keys files by hour(end))
    assert got == {h + 1: c for h, c in EXPECTED_HOURLY.items()}

    batch = hourly_dropoff_counts(normalize_trips(read_taxi_csv(spark, d)))
    assert {r["hour_of_day"]: r["cnt"] for r in batch.collect()} == got


def test_file_order_independence(spark, tmp_path):
    """Same final counts regardless of file arrival order (§5.2 fix)."""
    plan = default_plan()
    results = []
    for order in (plan, plan[::-1]):
        d = str(tmp_path / f"taxi_{len(results)}")
        write_taxi_files(d, order)
        q, table = run_to_memory(
            _trips_stream(spark, d).transform(hourly_dropoff_counts), "complete"
        )
        try:
            results.append(
                sorted((r["hour_of_day"], r["cnt"]) for r in spark.table(table).collect())
            )
        finally:
            q.stop()
    assert results[0] == results[1]


def test_file_stream_batches_list_files_without_a_job(spark, tmp_path):
    """A trigger of more than 32 files must not launch a file-listing Spark
    job in ``getBatch``: the query's job group holds only the sink job of
    each non-empty micro-batch, and the counts stay those of a batch read."""
    d = str(tmp_path / "taxi")
    plan = []
    for i in range(80):
        hh, mm = divmod(i * 3, 60)
        ts = f"2015-12-01 {8 + hh:02d}:{mm:02d}:00"
        plan.append(
            (f"part-2015-12-01-{8 + hh:02d}{mm:02d}.csv",
             [yellow_row(ts, *CITIGROUP_INSIDE)] * (1 + i % 3))
        )
    write_taxi_files(d, plan)
    q, table = run_to_memory(
        hourly_dropoff_counts(normalize_trips(stream_taxi_csv(spark, d, 40)))
    )
    try:
        got = sorted(
            (r["hour_of_day"], r["cnt"]) for r in spark.table(table).collect()
        )
        non_empty = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    finally:
        q.stop()
    assert non_empty == 2
    assert len(jobs) == non_empty, sorted(jobs)
    batch = hourly_dropoff_counts(normalize_trips(read_taxi_csv(spark, d)))
    assert got == sorted((r["hour_of_day"], r["cnt"]) for r in batch.collect())
    assert sum(c for _, c in got) == sum(1 + i % 3 for i in range(80))


def test_streaming_geofence_counts(spark, tmp_path):
    d = str(tmp_path / "taxi")
    write_taxi_files(d, default_plan())
    q, table = run_to_memory(_trips_stream(spark, d).transform(geofence_hourly), "complete")
    try:
        got = {
            (r["hour_of_day"] - 1, r["headquarters"]): r["cnt"]
            for r in spark.table(table).collect()
        }
    finally:
        q.stop()
    assert got == EXPECTED_GEOFENCE_HOURLY


def test_task4_state_store_holds_batch_counts(spark, tmp_path):
    """The Task4 drain's state store is read back by the taxi benchmark's
    correctness check: its rows are ``key.window.start``,
    ``key.headquarters`` and ``value.count``, equal to the batch counts."""
    d = str(tmp_path / "taxi")
    ckpt = str(tmp_path / "ckpt")
    write_taxi_files(d, default_plan())
    q = run_foreach_batch(
        geofence_10min_counts(_trips_stream(spark, d)),
        lambda df, _id: df.collect(),
        "update",
        ckpt,
    )
    q.processAllAvailable()
    q.stop()
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.window.start", "key.headquarters", "value.count")
    )
    batch = geofence_10min_counts(normalize_trips(read_taxi_csv(spark, d)))
    assert sorted(map(tuple, state.collect())) == sorted(
        (r["window_start"], r["headquarters"], r["cnt"]) for r in batch.collect()
    )


def test_hourly_file_sink_naming_and_contents(spark, tmp_path):
    """Reference Task2 naming (output-{hour*360000}, hour 0→24) with
    per-window-correct contents."""
    d = str(tmp_path / "taxi")
    out = str(tmp_path / "out")
    write_taxi_files(
        d,
        default_plan()
        + [("part-2015-12-01-2359.csv", [yellow_row("2015-12-01 23:59:30", -73.98, 40.75)])],
    )
    agg = hourly_dropoff_counts(_trips_stream(spark, d, max_files=10))
    q = run_foreach_batch(agg, lambda df, _id: write_hourly_files(df, out), "update")
    q.processAllAvailable()
    q.stop()
    # hour(window.end): 10:xx→11, 11:xx→12, 23:xx→0→24
    assert sorted(os.listdir(out)) == sorted(
        [hourly_file_name(11), hourly_file_name(12), hourly_file_name(24)]
    )
    assert hourly_file_name(24) == "output-8640000"
    with open(os.path.join(out, "output-3960000")) as f:  # hour 11 = window [10,11)
        assert f.read().strip() == "4"


def test_geofence_file_sink_per_window_correct(spark, tmp_path):
    """Fix of reference Task3.py:102-103: each hourly file carries ITS
    window's counts, not the first row's."""
    d = str(tmp_path / "taxi")
    out = str(tmp_path / "out3")
    write_taxi_files(d, default_plan())
    agg = geofence_hourly(_trips_stream(spark, d, max_files=10))
    q = run_foreach_batch(agg, lambda df, _id: write_geofence_files(df, out), "update")
    q.processAllAvailable()
    q.stop()
    with open(os.path.join(out, "output3-3960000")) as f:  # window [10,11)
        assert f.read() == "('citigroup', 2)\n('goldman', 1)\n"
    with open(os.path.join(out, "output3-4320000")) as f:  # window [11,12)
        assert f.read() == "('citigroup', 1)\n('goldman', 0)\n"


def test_geofence_file_sink_reference_compat_mode(spark, tmp_path):
    """reference_compat=True reproduces Task3.py:102-103 byte-for-byte:
    every hourly file carries the batch's FIRST citigroup/goldman counts,
    no trailing newline."""
    d = str(tmp_path / "taxi")
    out = str(tmp_path / "out3c")
    write_taxi_files(d, default_plan())
    agg = geofence_hourly(_trips_stream(spark, d, max_files=10))
    q = run_foreach_batch(
        agg,
        lambda df, _id: write_geofence_files(df, out, reference_compat=True),
        "update",
    )
    q.processAllAvailable()
    q.stop()
    files = sorted(os.listdir(out))
    assert len(files) >= 2
    contents = {fn: open(os.path.join(out, fn)).read() for fn in files}
    # all files identical (the bug), shaped ('citigroup', n)\n('goldman', m)
    vals = set(contents.values())
    assert len(vals) == 1
    body = vals.pop()
    assert not body.endswith("\n")
    lines = body.split("\n")
    assert lines[0].startswith("('citigroup', ") and lines[1].startswith(
        "('goldman', "
    )


FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _checkpoint_manager(spark, manager_class):
    """Queries started in the block commit checkpoint files through
    ``manager_class``; the session's local default is restored after."""
    spark.conf.set(CHECKPOINT_MANAGER_KEY, manager_class)
    try:
        yield
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)


def _resume_with_new_file(spark, tmp_path, first_run_manager=LOCAL_CHECKPOINT_MANAGER):
    """Count hourly drop-offs over default_plan() from a checkpoint, stop,
    add a file with one more drop-off in the 11:00 window and resume from
    the checkpoint under the session's default manager. The first run
    commits through ``first_run_manager``. Returns each run's batches as
    (batch_id, {hour_of_day: cnt}) and the input rows of the resumed run."""
    d = str(tmp_path / "taxi")
    ckpt = str(tmp_path / "ckpt")
    write_taxi_files(d, default_plan())
    seen: list[tuple[int, dict[int, int]]] = []

    def sink(df, batch_id):
        seen.append((batch_id, {r["hour_of_day"]: r["cnt"] for r in df.collect()}))

    def run():
        agg = hourly_dropoff_counts(_trips_stream(spark, d, max_files=10))
        q = run_foreach_batch(agg, sink, "update", checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()
        return q

    with _checkpoint_manager(spark, first_run_manager):
        run()
    first = list(seen)

    write_taxi_files(
        d, [("part-2015-12-01-1130.csv", [yellow_row("2015-12-01 11:30:00", -73.98, 40.75)])]
    )
    q = run()
    resumed_rows = sum(p["numInputRows"] for p in q.recentProgress)
    return first, seen[len(first):], resumed_rows


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Stop → add file → restart from checkpoint: old files not re-counted,
    new file processed exactly once (reference K6 semantics), on top of the
    state restored from the checkpoint."""
    first, new, resumed_rows = _resume_with_new_file(spark, tmp_path)
    assert len(first) >= 1
    assert len(new) >= 1
    assert all(bid > max(b for b, _ in first) for bid, _ in new)
    assert resumed_rows == 1
    # the resumed run emits only the 11:00-12:00 window (hour_of_day 12),
    # counting all four of its rows, as a batch read of every file does:
    # three of them were counted before the restart
    batch = {
        r["hour_of_day"]: r["cnt"]
        for r in hourly_dropoff_counts(
            normalize_trips(read_taxi_csv(spark, str(tmp_path / "taxi")))
        ).collect()
    }
    assert batch[12] == 4
    assert {h: c for _, rows in new for h, c in rows.items()} == {12: batch[12]}


def test_checkpoint_manager_contract_and_upgrade(spark, tmp_path):
    """The checkpoint file manager a local session resolves keeps the
    FileContext manager's contract: a no-overwrite write over an existing
    file fails and keeps the old bytes, an overwriting write replaces them
    (and its checksum). A checkpoint written under the FileContext manager
    resumes under the local default."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = managers.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf
    )
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "f"))
    checksummed = target.getFileSystem(hadoop_conf)  # verifies .crc on read

    def write(data: bytes, overwrite: bool) -> None:
        out = manager.createAtomic(target, overwrite)
        out.write(bytearray(data))
        out.close()

    def read() -> bytes:
        stream = checksummed.open(target)
        try:
            return bytes(iter(stream.read, -1))
        finally:
            stream.close()

    def class_names(obj):
        c = obj.getClass()
        while c is not None:
            yield c.getName()
            c = c.getSuperclass()

    write(b"old", False)
    with pytest.raises(Py4JJavaError) as err:
        write(b"new", False)
    assert "org.apache.hadoop.fs.FileAlreadyExistsException" in set(
        class_names(err.value.java_exception)
    )
    assert read() == b"old"
    write(b"newer", True)
    assert read() == b"newer"
    assert os.path.exists(tmp_path / ".f.crc")

    # a query's checkpoint logs resolve their manager the same way, from
    # the session's runtime conf
    assert manager.getClass().getName() == LOCAL_CHECKPOINT_MANAGER
    with _checkpoint_manager(spark, FILE_CONTEXT_MANAGER):
        resolved = managers.CheckpointFileManager.create(
            target, spark._jsparkSession.sessionState().newHadoopConf()
        )
        assert resolved.getClass().getName() == FILE_CONTEXT_MANAGER
    first, new, resumed_rows = _resume_with_new_file(
        spark, tmp_path / "query", FILE_CONTEXT_MANAGER
    )
    assert len(first) >= 1 and len(new) >= 1
    assert resumed_rows == 1
    assert {h: c for _, rows in new for h, c in rows.items()} == {12: 4}


def test_word_counts_stream_reference_semantics(spark, tmp_path):
    """Client.py word count: split on single space, empties kept."""
    d = str(tmp_path / "text")
    os.makedirs(d)
    with open(os.path.join(d, "a.txt"), "w") as f:
        f.write("a b a\nb  c\n")
    lines = spark.readStream.format("text").load(d)
    q, table = run_to_memory(word_counts_stream(lines), "complete")
    try:
        got = {r["word"]: r["cnt"] for r in spark.table(table).collect()}
    finally:
        q.stop()
    assert got == {"a": 2, "b": 2, "c": 1, "": 1}


def test_watermark_accepted_on_stream(spark, tmp_path):
    """Watermarked append-mode aggregation runs end-to-end (new capability —
    the reference had no late-data policy)."""
    d = str(tmp_path / "taxi")
    write_taxi_files(d, default_plan())
    agg = hourly_dropoff_counts(_trips_stream(spark, d, max_files=10), watermark="2 hours")
    q, table = run_to_memory(agg, "append")
    try:
        # append mode only emits closed windows; with all data in one batch
        # nothing may close — the assertion is that the plan runs statefully.
        assert spark.table(table).count() >= 0
    finally:
        q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy (new vs reference): an event older than the
    watermark arriving in a later batch is excluded from its (already
    finalized) window."""
    d = str(tmp_path / "late")
    os.makedirs(d)

    def mk(rows):
        spark.createDataFrame(rows, "dropoff_ts string").select(
            F.col("dropoff_ts").cast("timestamp").alias("dropoff_ts")
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)

    # batch 1: 3 events in [10:00,11:00) + one at 12:30 that pushes the
    # watermark past 11:00 and closes the window
    mk([("2024-01-01 10:10:00",), ("2024-01-01 10:20:00",),
        ("2024-01-01 10:40:00",), ("2024-01-01 12:30:00",)])

    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    agg = hourly_dropoff_counts(stream, watermark="10 minutes")
    q, table = run_to_memory(agg, "append")
    try:
        # batch 2 (written only after batch 1 fully processed): a late
        # 10:30 event — behind the watermark, must be dropped
        mk([("2024-01-01 10:30:00",)])
        q.processAllAvailable()
        got = {r["hour_of_day"]: r["cnt"] for r in spark.table(table).collect()}
    finally:
        q.stop()
    # window [10:00,11:00) finalized with 3 — the late row did not re-open it
    assert got.get(11) == 3


def test_streaming_dropduplicates(spark, tmp_path):
    """Streaming exact dedup (dropDuplicates) across micro-batches — the
    stream-side of the dedup ladder (gap list §2.10)."""
    d = str(tmp_path / "dups")
    for i, ids in enumerate([[1, 2, 3], [2, 3, 4]]):
        spark.createDataFrame(
            [(j, f"payload{j}") for j in ids], "event_id long, payload string"
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    q, table = run_to_memory(stream.dropDuplicates(["event_id"]), "append")
    try:
        got = sorted(r["event_id"] for r in spark.table(table).collect())
    finally:
        q.stop()
    assert got == [1, 2, 3, 4]


def test_streaming_dropduplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: dedup with bounded state — the
    scale-safe streaming dedup (state evicted past the watermark)."""
    d = str(tmp_path / "dupsw")
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:01:00"),  # dup within watermark window
        (2, "2024-01-01 10:02:00"),
    ]
    spark.createDataFrame(rows, "event_id long, ts string").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q, table = run_to_memory(stream, "append")
    try:
        got = sorted(r["event_id"] for r in spark.table(table).collect())
    finally:
        q.stop()
    assert got == [1, 2]


def test_union_dedup_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark bounds state to the redelivery horizon
    (registry.streaming_union_dedup's 100 TB posture): a key's dedup state
    is EVICTED once the watermark passes first-seen ts + delay, so a
    redelivery after the horizon re-emits (state did not grow to hold it),
    while a redelivery within the horizon is dropped."""
    d = str(tmp_path / "evict")
    os.makedirs(d)

    def mk(rows):
        spark.createDataFrame(rows, "event_id long, ts string").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)

    # batch 1: key 1 at 10:00, key 9 at 13:00 → watermark := 13:00-30m = 12:30
    # → key 1's state (horizon 10:30) evicted, key 9's (13:30) retained
    mk([(1, "2024-01-01 10:00:00"), (9, "2024-01-01 13:00:00")])
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q, table = run_to_memory(stream, "append")
    try:
        # batch 2: key 1 redelivered past its horizon → re-emitted;
        # key 9 redelivered within its horizon → dropped
        mk([(1, "2024-01-01 12:45:00"), (9, "2024-01-01 13:05:00")])
        q.processAllAvailable()
        got = sorted(r["event_id"] for r in spark.table(table).collect())
    finally:
        q.stop()
    assert got == [1, 1, 9]


def test_append_mode_emits_closed_windows(spark, tmp_path):
    """Pins the append-mode emission rule the streaming_hourly_counts_append
    oracle encodes: a window is emitted iff window.end <= max(event time) -
    delay, NON-strict at the boundary (the [11:00,12:00) window whose end
    equals the final watermark is emitted), and still-open windows are
    held back."""
    d = str(tmp_path / "append_rule")
    rows = [("2024-01-01 10:10:00",), ("2024-01-01 11:20:00",),
            ("2024-01-01 12:30:00",)]  # watermark ends at 12:00 exactly
    spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    st = spark.readStream.schema(schema).parquet(d).withWatermark("ts", "30 minutes")
    agg = (
        st.groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
        .select(F.col("w.start").alias("ws"), "count")
    )
    q, table = run_to_memory(agg, "append")
    try:
        got = sorted(r["ws"].hour for r in spark.table(table).collect())
    finally:
        q.stop()
    # [10,11) closed; [11,12) end == watermark → emitted (non-strict);
    # [12,13) still open → held
    assert got == [10, 11]


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream interval join (gap list §2.10)."""
    imps_d, clicks_d = str(tmp_path / "imps"), str(tmp_path / "clicks")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")],
        "ad_id long, imp_ts string",
    ).select("ad_id", F.col("imp_ts").cast("timestamp").alias("imp_ts")).coalesce(
        1
    ).write.parquet(imps_d)
    spark.createDataFrame(
        [(1, "2024-01-01 10:20:00"), (2, "2024-01-01 12:00:00")],  # 2 too late
        "ad_id long, click_ts string",
    ).select("ad_id", F.col("click_ts").cast("timestamp").alias("click_ts")).coalesce(
        1
    ).write.parquet(clicks_d)

    imps = (
        spark.readStream.schema(spark.read.parquet(imps_d).schema)
        .parquet(imps_d)
        .withWatermark("imp_ts", "1 hour")
    )
    clicks = (
        spark.readStream.schema(spark.read.parquet(clicks_d).schema)
        .parquet(clicks_d)
        .withWatermark("click_ts", "1 hour")
    )
    joined = imps.join(
        clicks,
        (imps.ad_id == clicks.ad_id)
        & (clicks.click_ts >= imps.imp_ts)
        & (clicks.click_ts <= imps.imp_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(imps.ad_id, "imp_ts", "click_ts")
    q, table = run_to_memory(joined, "append")
    try:
        got = [r["ad_id"] for r in spark.table(table).collect()]
    finally:
        q.stop()
    assert got == [1]


def test_socket_word_count_live(spark):
    """Client.py end-to-end: a real TCP server feeding the socket source."""
    import socket
    import threading

    from streamming_processing_pyspark_spark.sources.streams import socket_lines

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(b"spark streams words\nspark counts words\n")
        stop.wait(timeout=30)
        conn.close()

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    lines = socket_lines(spark, host="127.0.0.1", port=port)
    q, table = run_to_memory(word_counts_stream(lines), "complete")
    try:
        deadline = time.time() + 30
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {r["word"]: r["cnt"] for r in spark.table(table).collect()}
            if got.get("words") == 2:
                break
            time.sleep(0.5)
        assert got.get("spark") == 2 and got.get("words") == 2
        assert got.get("streams") == 1 and got.get("counts") == 1
    finally:
        stop.set()
        q.stop()
        srv.close()


def test_trend_detection_batch_rule(spark, monkeypatch):
    rows = [
        ("citigroup", "2015-12-01 10:00:00", "2015-12-01 10:10:00", 3),
        ("citigroup", "2015-12-01 10:10:00", "2015-12-01 10:20:00", 12),  # 12-3>=3 ✓
        ("citigroup", "2015-12-01 10:20:00", "2015-12-01 10:30:00", 20),  # 20-12<12 ✗
        ("goldman", "2015-12-01 10:10:00", "2015-12-01 10:20:00", 50),  # no prev ✗
        ("none", "2015-12-01 10:00:00", "2015-12-01 10:10:00", 4),
        ("none", "2015-12-01 10:10:00", "2015-12-01 10:20:00", 9),  # cnt<10 ✗
    ]
    df = spark.createDataFrame(
        rows, "headquarters string, window_start string, window_end string, cnt long"
    ).select(
        "headquarters",
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cnt",
    )

    def check(counts, exchanges):
        trends = detect_trends_in_batch(counts)
        got = trends.collect()
        assert len(got) == 1
        assert got[0]["headquarters"] == "citigroup"
        assert got[0]["cnt"] == 12 and got[0]["prev_cnt"] == 3
        final_plan = (
            trends._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
        )
        assert re.findall(r"Exchange (\w+)", final_plan) == exchanges

    # under the local test master the rule reads its input as one
    # partition, so the lag window adds no shuffle, whatever the input's
    # partitioning; the only Exchange left is the input's own round-robin
    # repartition
    check(df, [])
    check(df.repartition(4), ["RoundRobinPartitioning"])
    # a cluster master keeps the window's hash exchange
    monkeypatch.setattr(jobs_module, "is_local_master", lambda master: False)
    check(df.repartition(4), ["hashpartitioning", "RoundRobinPartitioning"])


def test_trend_core_rule_emission_and_eviction():
    """The stateful trend rule on its own: a window trends at ≥ min_count
    rows and ≥ 2× its predecessor, emits at most once across calls that
    share state, and windows older than retention_windows are evicted —
    also through ``_trend_step``'s encoded-state round trip."""
    import pandas as pd

    from streamming_processing_pyspark_spark.streaming.trend import (
        _trend_core,
        _trend_step,
    )

    w = 600
    windows = {
        0: 2,  # no predecessor ✗
        w: 9,  # 9 ≥ 2·2 but 9 < min_count ✗
        2 * w: 20,  # 20 ≥ 10 and 20 ≥ 2·9 ✓
        3 * w: 39,  # 39 < 2·20 ✗
        4 * w: 78,  # exactly 2·39 ✓
    }
    out, windows, emitted = _trend_core(windows, set(), w, 10, 1000)
    assert out == [(2 * w, 20, 9), (4 * w, 78, 39)]
    assert emitted == {2 * w, 4 * w}

    # second call on the same state: still-trending windows stay quiet
    windows[2 * w] += 1
    windows[5 * w] = 200
    out, windows, emitted = _trend_core(windows, emitted, w, 10, 1000)
    assert out == [(5 * w, 200, 78)]

    # eviction: with 2 windows of retention behind the newest (10w), only
    # windows ≥ 8w survive, and the emitted marks go with them
    windows[8 * w] = 3
    windows[10 * w] = 1
    out, windows, emitted = _trend_core(windows, emitted, w, 10, 2)
    assert out == []
    assert windows == {8 * w: 3, 10 * w: 1}
    assert emitted == set()

    # the same windows through ``_trend_step``, the state update
    # trending_stateful runs: rows are bucketed into the decoded state, the rule
    # applies, and the encoded state fed back on the next call carries the
    # counts and emitted marks across micro-batches
    def rows(counts):
        secs = [k * w + 1 for k, n in counts.items() for _ in range(n)]
        return iter([pd.DataFrame({"ts": pd.to_datetime(secs, unit="s")})])

    state, frame = _trend_step(
        ("k",), None, rows({0: 2, 1: 9, 2: 20, 3: 39, 4: 78}), w, 10, 1000
    )
    assert frame.values.tolist() == [["k", 2 * w, 20, 9], ["k", 4 * w, 78, 39]]
    starts, counts, emitted = state
    assert dict(zip(starts, counts)) == {0: 2, w: 9, 2 * w: 20, 3 * w: 39, 4 * w: 78}
    assert sorted(emitted) == [2 * w, 4 * w]

    # the round-tripped state keeps emitted windows quiet and still
    # supplies the predecessor count for a window first seen now
    state, frame = _trend_step(("k",), state, rows({2: 1, 5: 200}), w, 10, 1000)
    assert frame.values.tolist() == [["k", 5 * w, 200, 78]]
    assert dict(zip(state[0], state[1]))[2 * w] == 21

    # eviction travels through the encoded state too
    state, frame = _trend_step(("k",), state, rows({8: 3, 10: 1}), w, 10, 2)
    assert frame is None
    assert dict(zip(state[0], state[1])) == {8 * w: 3, 10 * w: 1}
    assert state[2] == []


def test_trending_files_sink_shape(spark):
    """Task4 sink naming/format: part-{sec_of_day*100} with
    (hq, (count, sec, prevCount)) (reference Task4.py:136-142)."""
    import tempfile

    rows = [("citigroup", "2024-01-01 08:50:00", "2024-01-01 09:00:00", 12, 5)]
    df = spark.createDataFrame(
        rows,
        "headquarters string, window_start string, window_end string, cnt long, prev_cnt long",
    ).select(
        "headquarters",
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cnt",
        "prev_cnt",
    )
    out = tempfile.mkdtemp()
    from streamming_processing_pyspark_spark.streaming.jobs import (
        write_trending_files,
    )

    write_trending_files(df, out)
    sec = 9 * 3600
    with open(os.path.join(out, f"part-{sec * 100}")) as f:
        assert f.read() == f"(citigroup, (12, {sec}, 5))\n"


def test_trending_stateful_checkpoint_recovery(spark, tmp_path):
    """Stateful trend state survives a stop/restart via checkpoint: the
    prev-window count from before the restart still triggers detection."""
    d = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    sink_rows: list[tuple] = []
    os.makedirs(d)

    def mk(rows):
        spark.createDataFrame(rows, "headquarters string, dropoff_ts string").select(
            "headquarters", F.col("dropoff_ts").cast("timestamp").alias("dropoff_ts")
        ).coalesce(1).write.mode("append").parquet(d)

    def start():
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        out = trending_stateful(stream, key_col="headquarters", ts_col="dropoff_ts")
        return (
            out.writeStream.foreachBatch(
                lambda df, _id: sink_rows.extend(tuple(r) for r in df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    mk([("citigroup", f"2024-01-01 10:00:{i:02d}") for i in range(3)])
    q = start()
    q.processAllAvailable()
    q.stop()
    assert sink_rows == []  # no trend yet — only the base window

    mk([("citigroup", f"2024-01-01 10:10:{i:02d}") for i in range(12)])
    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(sink_rows) == 1
    key, _ws, cnt, prev = sink_rows[0]
    assert (key, cnt, prev) == ("citigroup", 12, 3)


def test_trending_stateful_cross_batch(spark, tmp_path):
    """The case the reference misses: window W−10min in batch 1, window W in
    batch 2 — stateful operator still detects the trend."""
    d = str(tmp_path / "ev")
    os.makedirs(d)
    base = "2024-01-01 10:{m:02d}:{s:02d}"

    def mk(path, rows):
        spark.createDataFrame(rows, "headquarters string, dropoff_ts string").select(
            "headquarters", F.col("dropoff_ts").cast("timestamp").alias("dropoff_ts")
        ).coalesce(1).write.mode("append").parquet(path)

    # batch file 1: window 10:00 → 3 events; batch file 2: window 10:10 → 12
    mk(d, [("citigroup", base.format(m=0, s=i)) for i in range(3)])
    time.sleep(0.05)
    mk(d, [("citigroup", base.format(m=10, s=i)) for i in range(12)])

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = trending_stateful(stream, key_col="headquarters", ts_col="dropoff_ts")
    q, table = run_to_memory(out, "append")
    try:
        got = spark.table(table).collect()
    finally:
        q.stop()
    assert len(got) == 1
    r = got[0]
    assert r["key"] == "citigroup" and r["cnt"] == 12 and r["prev_cnt"] == 3
    assert r["window_start"].minute == 10


def test_streaming_sessions_multibatch_upsert(spark, tmp_path):
    """Streaming sessionization must converge to the batch result even
    when a user's session arrives split across micro-batches (the state
    store merges/extends open sessions between batches)."""
    from streamming_processing_pyspark_spark.operators.relational2 import (
        session_window_counts,
    )
    from streamming_processing_pyspark_spark.streaming.jobs import (
        run_to_memory,
        sessionize_stream,
    )

    ev = load_table(spark, SF_DIR, "events")
    d = str(tmp_path / "events_split")
    ev.repartition(6).write.parquet(d)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q, table = run_to_memory(sessionize_stream(stream), "complete")
    q.stop()
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table(table).collect()
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_window_counts({"events": ev}).collect()
    )
    assert got == want


def test_replay_source_batch_and_pacing(spark, tmp_path):
    """Custom Python data source (the reference's missing Server.py
    producer, re-expressed as a Spark 4 source): batch read sees every
    line; the stream admits minutesPerBatch files per micro-batch and
    delivers each line exactly once."""
    from streamming_processing_pyspark_spark.sources.replay_source import (
        register_replay_source,
        replay_lines,
    )

    d = str(tmp_path / "taxi")
    write_taxi_files(d, default_plan())
    n_lines = sum(len(rows) for _, rows in default_plan())
    register_replay_source(spark)
    batch = spark.read.format("taxi_replay").option("path", d).load()
    assert batch.count() == n_lines
    assert batch.select("minute_file").distinct().count() == len(default_plan())

    counts: list[int] = []
    q = (
        replay_lines(spark, d, minutes_per_batch=1)
        .writeStream.foreachBatch(lambda df, _i: counts.append(df.count()))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(counts) == n_lines
    assert len(counts) >= len(default_plan())  # one file per non-empty batch


def test_replay_source_parsed_matches_csv_reader(spark, tmp_path):
    """Replay lines parsed with from_csv(UNION_SCHEMA) must produce the
    same hourly counts as the native csv-reader batch path — the
    positional PERMISSIVE binding survives the custom source."""
    from pyspark.sql import functions as F

    from streamming_processing_pyspark_spark.sources.replay_source import (
        register_replay_source,
    )
    from streamming_processing_pyspark_spark.sources.taxi_csv import UNION_SCHEMA

    d = str(tmp_path / "taxi")
    write_taxi_files(d, default_plan())
    register_replay_source(spark)
    parsed = (
        spark.read.format("taxi_replay")
        .option("path", d)
        .load()
        .select(
            F.from_csv("line", UNION_SCHEMA.simpleString(), {"mode": "PERMISSIVE"}).alias("r")
        )
        .select("r.*")
    )
    via_replay = hourly_dropoff_counts(normalize_trips(parsed))
    via_csv = hourly_dropoff_counts(normalize_trips(read_taxi_csv(spark, d)))
    assert sorted(map(tuple, via_replay.collect())) == sorted(
        map(tuple, via_csv.collect())
    )


def test_replay_source_checkpoint_resume(spark, tmp_path):
    """A restarted replay stream resumes from the checkpointed offset:
    no line is lost or delivered twice across the restart."""
    from streamming_processing_pyspark_spark.sources.replay_source import (
        replay_lines,
    )

    d = str(tmp_path / "taxi")
    ckpt = str(tmp_path / "ckpt")
    write_taxi_files(d, default_plan())
    n_lines = sum(len(rows) for _, rows in default_plan())

    seen: list[str] = []

    def sink(df, _i):
        seen.extend(r["line"] for r in df.collect())

    q = (
        replay_lines(spark, d, minutes_per_batch=1)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
    )
    try:
        while not q.recentProgress:  # let at least one batch commit
            q.processAllAvailable()
    finally:
        q.stop()
    first_run = len(seen)
    assert 0 < first_run  # something committed before the stop

    q2 = (
        replay_lines(spark, d, minutes_per_batch=1)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(seen) == n_lines  # exactly once: no loss, no duplicates
    assert len(set(seen)) == len(seen)


def test_batch_metrics_listener(spark, tmp_path):
    """The metrics listener must see every micro-batch: input rows across
    batches sum to the source size, stateful aggs report state rows, and
    the log is bounded by max_batches."""
    import time as _time

    from streamming_processing_pyspark_spark.sources.streams import stream_events
    from streamming_processing_pyspark_spark.streaming.jobs import run_to_memory
    from streamming_processing_pyspark_spark.streaming.metrics import attach_metrics

    from pyspark.sql import functions as F

    listener = attach_metrics(spark, max_batches=100)
    try:
        sf_dir = "/root/testdata/sf0.001"
        ev = stream_events(spark, sf_dir)
        agg = ev.groupBy(F.window("ts", "1 hour")).count()
        q, table = run_to_memory(agg, "complete")
        qid = str(q.id)
        q.stop()
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        # listener delivery is async on the listener-bus thread
        for _ in range(50):
            if listener.rows_total(qid) >= n_events:
                break
            _time.sleep(0.2)
        s = listener.summary(qid)
        assert s["input_rows"] == n_events
        assert s["batches"] >= 1
        assert s["max_state_rows"] > 0  # windowed agg keeps state
        assert len(listener.batches()) <= 100
    finally:
        spark.streams.removeListener(listener)


def test_streaming_ingest_dedup_loop(spark, tmp_path):
    """Continuous ingest-dedup: batch B arriving after batch A must drop
    its exact copy and its near-duplicate of A's documents and append only
    genuinely new content to the corpus."""
    import os as _os
    import time as _time

    from streamming_processing_pyspark_spark.streaming.ingest_dedup import (
        run_streaming_ingest_dedup,
    )

    in_dir = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    _os.makedirs(in_dir)
    base = "the quick brown fox jumps over the lazy dog again and again today"
    batch_a = [(1, base), (2, "completely different first corpus text body here okay")]
    batch_b = [
        (11, base),  # exact copy of doc 1 → dropped
        (12, base + " extra"),  # near-dup of doc 1 → dropped
        (13, "entirely novel unrelated second batch document text content"),
    ]
    spark.createDataFrame(batch_a, "doc_id long, text string").coalesce(1).write.parquet(
        in_dir + "/a"
    )
    _time.sleep(1.1)
    spark.createDataFrame(batch_b, "doc_id long, text string").coalesce(1).write.parquet(
        in_dir + "/b"
    )
    # flatten: the file stream watches one directory of parquet files
    files = []
    for sub in ("a", "b"):
        for f in sorted(_os.listdir(f"{in_dir}/{sub}")):
            if f.endswith(".parquet"):
                src = f"{in_dir}/{sub}/{f}"
                dst = f"{in_dir}/{sub}.parquet"
                _os.rename(src, dst)
                files.append(dst)
    _os.utime(files[0], (1, 1))  # batch a strictly older

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_streaming_ingest_dedup(stream, corpus, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]
        for r in spark.read.parquet(corpus + "/docs").select("doc_id").collect()
    }
    assert got == {1, 2, 13}, got
    # the band index covers exactly the surviving docs
    idx = {
        r["doc_id"]
        for r in spark.read.parquet(corpus + "/bands").select("doc_id").collect()
    }
    assert idx == got


def test_rocksdb_state_store_parity(spark):
    """The 100 TB state backend: the same stateful windowed aggregation
    run under the RocksDB state-store provider (state spills off-heap /
    to disk instead of living in executor memory — mandatory once keyed
    state outgrows the heap) must produce exactly the default-provider
    result. Pins that the engine's stateful queries carry no
    HDFSBackedStateStore assumptions."""
    from streamming_processing_pyspark_spark.sources.streams import stream_events
    from streamming_processing_pyspark_spark.streaming.jobs import run_to_memory

    def hourly(tag):
        ev = stream_events(spark, SF_DIR)
        agg = (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        )
        q, table = run_to_memory(agg, "complete", name=f"rocks_{tag}")
        q.stop()
        return sorted(map(tuple, spark.table(table).collect()))

    key = "spark.sql.streaming.stateStore.providerClass"
    default = hourly("default")
    prev = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = hourly("rocksdb")
    finally:
        spark.conf.set(key, prev)
    assert rocks == default and len(rocks) > 0


def test_rocksdb_session_window_and_ddwm(spark, tmp_path):
    """The two LARGE-state streaming ops (session windows — unbounded
    per-user state until the gap closes — and
    dropDuplicatesWithinWatermark — one state row per key in the
    redelivery horizon) run under the RocksDB provider via the session
    factory's ``state_store`` knob: results must match the on-heap
    default's semantics (batch parity for sessions, dedup semantics for
    ddwm) and the metrics listener must report a nonzero state size —
    the operational signal that state actually lives in the store."""
    from streamming_processing_pyspark_spark.operators.relational2 import (
        session_window_counts,
    )
    from streamming_processing_pyspark_spark.session import (
        STATE_STORE_PROVIDERS,
        get_spark,
    )
    from streamming_processing_pyspark_spark.streaming.jobs import sessionize_stream
    from streamming_processing_pyspark_spark.streaming.metrics import attach_metrics

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    ev = load_table(spark, SF_DIR, "events")
    d = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(d)

    s = get_spark(state_store="rocksdb")
    assert s is spark  # factory reconfigures the live session
    assert spark.conf.get(key) == STATE_STORE_PROVIDERS["rocksdb"]
    listener = attach_metrics(spark)
    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(d)
        )
        q, table = run_to_memory(sessionize_stream(stream), "complete")
        q.stop()
        rocks_sessions = sorted(
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.table(table).collect()
        )

        dd = str(tmp_path / "ddwm")
        rows = [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:01:00"),  # dup within watermark window
            (2, "2024-01-01 10:02:00"),
        ]
        spark.createDataFrame(rows, "event_id long, ts string").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.parquet(dd)
        schema = spark.read.parquet(dd).schema
        dstream = (
            spark.readStream.schema(schema)
            .parquet(dd)
            .withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q2, table2 = run_to_memory(dstream, "append")
        q2.stop()
        rocks_dd = sorted(r["event_id"] for r in spark.table(table2).collect())
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, prev)

    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_window_counts({"events": ev}).collect()
    )
    assert rocks_sessions == want and rocks_sessions
    assert rocks_dd == [1, 2]
    assert max(r["state_rows"] for r in listener.batches()) > 0


def test_outer_interval_join_null_emission(spark, tmp_path):
    """Pins the left-outer stream-stream join emission rule the
    registry.streaming_interval_join_outer oracle encodes: an unmatched
    view emits a null row iff view_ts + 10 min < global watermark
    (STRICT) where the global watermark is min(max view ts, max purchase
    ts) - 1 h. Three probes: clearly closed (emits), exactly at the
    boundary (held), clearly open (held)."""
    import pandas as pd

    from streamming_processing_pyspark_spark.sources.streams import stream_events

    T = pd.Timestamp("2026-01-01 12:00:00")
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, T, 101, "view", 1.0, "{}"),  # open: at max ts
        (2, T - pd.Timedelta("70min"), 102, "view", 1.0, "{}"),  # +10min == wm
        (3, T - pd.Timedelta("2h"), 103, "view", 1.0, "{}"),  # closed
        (4, T, 999, "purchase", 1.0, "{}"),  # sets purchase-side max
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a literal events.parquet FILE (the source's pathGlobFilter matches
    # the testdata layout, not a directory-shaped parquet table)
    d = str(tmp_path / "ev")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "events.parquet"))

    def side(et, idc, tsc):
        return (
            stream_events(spark, d)
            .where(F.col("event_type") == et)
            .select(
                F.col("event_id").alias(idc),
                F.col("user_id").alias(idc[0] + "_user"),
                F.col("ts").alias(tsc),
            )
            .withWatermark(tsc, "1 hour")
        )

    v = side("view", "view_id", "view_ts")
    p = side("purchase", "purchase_id", "purchase_ts")
    j = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select("view_id", "purchase_id")
    q, table = run_to_memory(j, "append")
    try:
        got = {r["view_id"] for r in spark.table(table).collect()}
    finally:
        q.stop()
    # only the clearly-closed view emitted; the boundary row (+10min == wm)
    # and the open row are still held by the watermark
    assert got == {3}


def test_streaming_observed_metrics_multibatch(spark, tmp_path):
    """Per-micro-batch observed metrics fold to the batch totals even when
    the corpus arrives across several triggers (maxFilesPerTrigger=1 over
    a 3-file corpus), including the extrema fold skipping empty batches."""
    from streamming_processing_pyspark_spark.operators import observability
    from streamming_processing_pyspark_spark.streaming.jobs import run_to_memory
    from streamming_processing_pyspark_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(d)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(d)
    gated = observability.gated_pass(stream, "ingest").select("doc_id")
    q, table = run_to_memory(gated, "append")
    rows = [
        dict(p.observedMetrics["ingest"].asDict())
        for p in q.recentProgress
        if "ingest" in (p.observedMetrics or {})
    ]
    q.stop()
    assert len(rows) >= 3, [r["n_rows"] for r in rows]
    folded = observability.fold_batch_metrics(
        rows, spark.table(table).count(), spark
    ).collect()[0]

    batch = observability.observed_gate_metrics({"documents": docs}).collect()[0]
    assert folded.asDict() == batch.asDict()


def test_drained_twins_release_their_sink_views(spark):
    """A streaming twin returns its drained rows without leaving its
    ``stream_sink_*`` memory-sink view behind (the view would pin every
    output row in the driver for the life of the session). One twin per
    runner shape, each run twice; the returned frames still read their
    rows after the view is gone."""
    from streamming_processing_pyspark_spark import registry
    from streamming_processing_pyspark_spark.operators import observability

    def sink_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_sink_")
        }

    before = sink_views()
    twins = [
        registry.streaming_hourly_counts,  # drained, complete mode
        registry.streaming_union_dedup,  # drained, append mode
        registry.streaming_available_now_counts,  # Trigger.AvailableNow
        observability.streaming_observed_metrics,  # observed metrics
    ]
    for twin in twins:
        for _ in range(2):
            assert twin(spark, SF_DIR).count() > 0
    assert sink_views() - before == set()
