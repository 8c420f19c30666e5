"""The ``taxi_backlog`` workload: the package's Task4 pipeline

    stream_taxi_csv(dir, 60) -> normalize_trips -> geofence_10min_counts
    -> run_foreach_batch(update), sink = detect_trends_in_batch(batch).count()

drains a pre-written backlog of minute-files (closed loop). The final
(window, geofence) counts, read back from the query's state store, must
equal the generator's tally.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.sources.taxi_csv import (
    normalize_trips,
    stream_taxi_csv,
)
from streamming_processing_pyspark_spark.streaming.jobs import (
    detect_trends_in_batch,
    geofence_10min_counts,
    run_foreach_batch,
)

from common import Run, cpus, session
from probe import JobStats, SqlExecutions, drain_listener_bus, tree_cpu_s
from taxigen import Mix, TaxiGen

FILES_PER_TRIGGER = 60
MIX = Mix(hit_share=0.05, goldman_share=0.8, late_share=0.03)
#: batches at the start of a drain that code generation and JIT warm-up
#: slow down (on a cold JVM, batch cycles fall from ~9 s to a steady ~1.5 s
#: over about six batches); the drain's figures leave them out
WARM_BATCHES = 6
#: sizes the backlog to about --seconds of timed batches; the steady rate
#: of the 4-CPU host in baseline.json
NOMINAL_ROWS_PER_S = 12_000
#: trigger phases whose cost does not grow with the rows in a batch
FIXED_PHASES = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets")


class Drain:
    """One streaming query over a pre-written backlog, with a timed sink.

    A traced drain (``probes`` given) reads its per-layer figures inside
    the sink, right after each batch's own work: it waits for Spark's
    listener bus, then totals the jobs of that batch's job group and the
    Python exec nodes of its SQL executions. That work delays the next
    batch, so the traced drain's ``rows_per_s`` carries the cost of
    tracing."""

    def __init__(self, run: Run, spark, name: str, seed: int, batches: int, warm: int,
                 probes=None):
        self.spark, self.name, self.warm, self.probes = spark, name, warm, probes
        self.dir = os.path.join(run.work, name)
        self.in_dir = os.path.join(self.dir, "in")
        self.ckpt = os.path.join(self.dir, "ckpt")
        self.gen = TaxiGen(seed, MIX)
        self.gen.write_backlog(self.in_dir, 0, batches * FILES_PER_TRIGGER)
        self.sink_log: dict[int, tuple[float, float]] = {}
        self.ops: dict[int, dict[str, float]] = {}
        #: CPU seconds of the process tree at each sink end
        self.cpu_log: dict[int, float] = {}

    def run(self) -> None:
        sc = self.spark.sparkContext

        def sink(batch_df, batch_id):
            group = f"{self.name}-batch-{batch_id}"
            sc.setJobGroup(group, f"{self.name} batch {batch_id}")
            t0 = time.perf_counter()
            detect_trends_in_batch(batch_df).count()
            self.sink_log[batch_id] = (t0, time.perf_counter())
            self.cpu_log[batch_id] = tree_cpu_s(os.getpid())
            if self.probes is not None:
                stats, sqlx = self.probes
                drain_listener_bus(self.spark)
                ops = stats.collect({group})
                ops["python_stages"], ops["python_rows"] = sqlx.python_nodes(with_rows=True)
                self.ops[batch_id] = ops

        agg = geofence_10min_counts(
            normalize_trips(stream_taxi_csv(self.spark, self.in_dir, FILES_PER_TRIGGER))
        )
        self.t_start = time.perf_counter()
        query = run_foreach_batch(agg, sink, "update", self.ckpt)
        query.processAllAvailable()
        query.stop()
        self.progress = {
            p["batchId"]: p
            for p in (json.loads(x.json) for x in query.recentProgress)
            if p["numInputRows"] > 0
        }

    def counts_match(self) -> bool:
        """Final (window, geofence) counts in the state store == tally."""
        rows = (
            self.spark.read.format("statestore")
            .load(self.ckpt)
            .select(F.col("key.window.start").cast("long"), "key.headquarters", "value.count")
            .collect()
        )
        got = {(r[0], r[1]): r[2] for r in rows}
        return got == dict(self.gen.tally)

    def e2e(self) -> dict[str, float]:
        ids = sorted(self.sink_log)
        ends = [self.sink_log[b][1] for b in ids]
        rows = sum(self.progress[b]["numInputRows"] for b in ids[self.warm:])
        cpu = [self.cpu_log[b] for b in ids]
        return {
            "rows_per_s": rows / (ends[-1] - ends[self.warm - 1]),
            "rows_per_cpu_s": rows / (cpu[-1] - cpu[self.warm - 1]),
            "first_batch_s": ends[0] - self.t_start,
        }

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer figures over the batches after the warm-up ones: times
        are medians per batch, operator totals are means per batch."""
        ids = sorted(self.sink_log)[self.warm:]
        dur = [self.progress[b]["durationMs"] for b in ids]
        phases = {k: statistics.median(d.get(k, 0) for d in dur) for k in dur[0]}
        state = [self.progress[b]["stateOperators"][0] for b in ids]
        ends = [self.sink_log[b][1] for b in sorted(self.sink_log)[self.warm - 1:]]
        out = {
            "sources.latest_offset_ms": phases.get("latestOffset", 0),
            "sources.get_batch_ms": phases.get("getBatch", 0),
            "streaming.query_planning_ms": phases.get("queryPlanning", 0),
            "streaming.wal_commit_ms": phases.get("walCommit", 0),
            "streaming.commit_offsets_ms": phases.get("commitOffsets", 0),
            "streaming.add_batch_ms": phases.get("addBatch", 0),
            "streaming.fixed_phase_share": sum(phases.get(k, 0) for k in FIXED_PHASES)
            / phases["triggerExecution"],
            "streaming.sink_s": statistics.median(
                self.sink_log[b][1] - self.sink_log[b][0] for b in ids
            ),
            "streaming.cycle_ms": 1e3 * statistics.median(b - a for a, b in zip(ends, ends[1:])),
            "streaming.batches": len(ids),
            "streaming.rows_per_batch": statistics.mean(
                self.progress[b]["numInputRows"] for b in ids
            ),
            "streaming.state_rows": state[-1]["numRowsTotal"],
            "streaming.state_mem_bytes": state[-1]["memoryUsedBytes"],
            "streaming.rows_dropped_late": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
        }
        for k in self.ops[ids[0]]:
            out[f"operators.{k}"] = statistics.mean(self.ops[b][k] for b in ids)
        return out


def _setup(run: Run):
    """Session for the pipeline. The aggregate's state is at most
    |geofences| x |10-min windows| rows, so the shuffle (and state store)
    partitions are sized to the cores, as for the package's own replay."""

    def prepare(spark):
        geofence_10min_counts(normalize_trips(stream_taxi_csv(spark, run.work, FILES_PER_TRIGGER)))

    return session(run, prepare, shuffle_partitions=cpus())


def _drain(run: Run, spark, name: str, seed: int, batches: int, warm: int = 1,
           probes=None) -> Drain:
    """Drain ``batches`` batches, leaving the first ``warm`` out of the
    figures (only the query start slows the first batch on a warm JVM)."""
    d = Drain(run, spark, name, seed, batches, warm, probes)
    d.run()
    run.count_op(d.counts_match(), f"{name}: final window counts")
    consumed = sum(p["numInputRows"] for p in d.progress.values())
    run.count_op(
        len(d.sink_log) == len(d.progress) and consumed == d.gen.rows,
        f"{name}: {consumed} of {d.gen.rows} rows in {len(d.sink_log)} sink calls",
    )
    return d


def taxi_backlog(run: Run) -> None:
    spark = _setup(run)
    per_batch = FILES_PER_TRIGGER * MIX.rows_per_file
    timed = max(4, round(run.seconds * NOMINAL_ROWS_PER_S / per_batch))
    d = _drain(run, spark, "drain", run.seed, WARM_BATCHES + timed, WARM_BATCHES)
    run.e2e.update(d.e2e())
    run.note(f"backlog {WARM_BATCHES + timed} batches x {per_batch} rows, "
             f"the first {WARM_BATCHES} untimed")
    if not run.trace:
        return
    # the same backlog untraced and then traced, back to back in the now
    # warm JVM: their rates differ by the cost of tracing
    plain = _drain(run, spark, "plain", run.seed, 1 + timed).e2e()["rows_per_s"]
    run.start_rss()
    probes = (JobStats(spark), SqlExecutions(spark))
    with run.tracer.span("drain.traced"):
        d = _drain(run, spark, "traced", run.seed, 1 + timed, probes=probes)
    run.layers.update(d.layer_metrics())
    run.layers["trace.overhead_pct"] = 100 * (plain / d.e2e()["rows_per_s"] - 1)
    # single-thread baseline: the same pipeline on a fresh local[1] context
    spark = session(run, None, cpus_=1, shuffle_partitions=1)
    one = _drain(run, spark, "one-cpu", run.seed, 5)
    run.layers["streaming.rows_per_s_1cpu"] = one.e2e()["rows_per_s"]
