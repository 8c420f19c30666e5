"""Run state shared by the workloads, and the session set-up they time."""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

from streamming_processing_pyspark_spark.session import get_spark

from probe import RssSampler, Tracer


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    attempted: int = 0
    spark: object = None

    def __post_init__(self) -> None:
        self.base = os.path.join(self.root, ".bench_work")
        self.work = os.path.join(self.base, f"{self.workload}-{self.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.tracer = Tracer(self.trace)
        self.rss = None

    def start_rss(self) -> None:
        """Sample the process tree's memory from now on. Workloads call this
        only when their traced part starts: the sampler is a Python thread
        competing for the GIL, so the untraced figures run without it."""
        self.rss = RssSampler()
        self.rss.start()

    def count_op(self, ok: bool, what: str) -> None:
        """Record one checked operation (a query, a drain or a check)."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def note(self, text: str) -> None:
        self.notes.append(text)

    @property
    def failed(self) -> int:
        return len(self.failures)


def session(run: Run, prepare, cpus_: int | None = None,
            shuffle_partitions: int | None = None):
    """Start the engine's session and run ``prepare(spark)`` on it. The
    first start in a process also launches the JVM, and that cold set-up
    (JVM launch, ``get_spark`` and ``prepare``) is the workload's
    ``setup_s``: it is what a user of the package pays before the first
    result. Later calls stop the current session and start another in the
    same JVM."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["TMPDIR"] = run.tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData -Duser.timezone=UTC "
            f"-Dderby.system.home={run.tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    cold = run.spark is None
    if not cold:
        run.spark.stop()
    t0 = time.perf_counter()
    run.spark = get_spark(app_name="perfbench", master=f"local[{cpus_ or cpus()}]",
                          shuffle_partitions=shuffle_partitions, extra_conf=conf)
    t1 = time.perf_counter()
    if prepare is not None:
        prepare(run.spark)
    t2 = time.perf_counter()
    setup = run.tracer.add("setup", t0, t2, None, cold=cold)
    run.tracer.add("session.get_spark", t0, t1, setup)
    if cold:
        run.e2e["setup_s"] = t2 - t0
        run.layers["session.get_spark_s"] = t1 - t0
    return run.spark
