"""Measurement helpers read from outside the engine.

- ``RssSampler``: peak resident memory of the whole process tree (this
  Python driver, the JVM it launched and the JVM's Python workers), read
  from ``/proc``.
- ``Tracer``: spans kept in memory and written out at the end with their
  self time (duration minus the part covered by child spans).
- ``JobStats``: per-job-group totals read from Spark's status store once
  the listener bus has drained, so a job that just finished is never
  missed or half counted.
- ``SqlExecutions``: Python exec nodes in the physical plans Spark
  recorded for each SQL execution, and the rows those nodes produced.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict

PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|"
    r"WindowInPandas|ArrowWindowPython|FlatMapGroupsInPandasWithState|"
    r"TransformWithStateInPandas|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b"
)
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _tree_stats(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (from the state field on) of ``root``
    and every process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        children[int(fields[1])].append(int(name))
        stats[int(name)] = fields
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in _tree_stats(root)) * _PAGE


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it,
    including exited children they reaped. Time the hypervisor gives to
    other guests (steal) is not counted."""
    return sum(sum(map(int, f[11:15])) for f in _tree_stats(root)) / _TICK


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.1):
        super().__init__(name="rss-sampler", daemon=True)
        self.period, self.peak = period, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop_event.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop_event.set()
        self.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


class Tracer:
    """In-memory spans; ``span()`` is a no-op context when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Summed self time (seconds) per span name."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": selfs}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if self.t.enabled:
            self.start = time.perf_counter()
            self.parent = self.t._stack[-1] if self.t._stack else None
            self.id = self.t.add(self.name, self.start, self.start, self.parent, **self.attrs)
            self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans[self.id]["end"] = time.perf_counter()
        return False


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status stores reflect all jobs that have already finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class JobStats:
    """Totals over the jobs of one or more job groups, from the app status
    store. Call only after ``drain_listener_bus``."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
              "task_cpu_s", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        jobs = self.store.jobsList(None)
        self.last_job = jobs.apply(0).jobId() if jobs.size() else -1

    def collect(self, groups: set[str]) -> dict[str, float]:
        """Totals over jobs of ``groups`` that started since the previous
        call, or since this object was made (the store lists the newest
        job first)."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        jobs = self.store.jobsList(None)
        newest = self.last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            if _opt(job.jobGroup()) not in groups:
                continue
            out["jobs"] += 1
            for sid in _seq(job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped stage)
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.last_job = newest
        return out


class SqlExecutions:
    """New SQL executions since the last call, with their Python exec
    nodes and the rows those nodes produced."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.next_id = self.store.executionsCount()

    def python_nodes(self, with_rows: bool = False) -> tuple[int, int]:
        """(Python exec nodes, rows they output) over executions recorded
        since the previous call."""
        nodes = rows = 0
        execs = _seq(self.store.executionsList(self.next_id, 1 << 20))
        for e in execs:
            nodes += len(PYTHON_NODE.findall(_final_plan(e.physicalPlanDescription())))
            if with_rows:
                rows += self._python_rows(e.executionId())
        self.next_id += len(execs)
        return nodes, rows

    def _python_rows(self, exec_id: int) -> int:
        values = self.store.executionMetrics(exec_id)
        total = 0
        for node in _seq(self.store.planGraph(exec_id).allNodes()):
            if not PYTHON_NODE.search(node.name()):
                continue
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(re.sub(r"[^0-9]", "", v.get()) or 0)
        return total


def _final_plan(desc: str) -> str:
    """The node tree of a formatted plan: the part before the per-node
    detail sections, with AQE's initial plan dropped once a final plan
    exists."""
    tree = desc.split("\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Initial Plan ==")[0]
    return tree


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution (forces optimization and planning if not yet done)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
