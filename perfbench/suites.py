"""The ``registry_python`` workload: a fixed list of registered batch
queries with Python/Arrow stages, run one at a time (closed loop) over the
package's scale-factor 0.1 test tables that those queries read
(``data/sf0.1``: documents and embeddings, copied unchanged).

A pass runs every query of the suite once; a query is its build (the
registry function, including any eager actions inside operators) followed
by a ``noop`` write. Shared intermediates live for one pass: the package's
memo, persist slots and Spark's cache are cleared between passes.

The first pass is untimed warm-up and the check pass: it collects every
result and compares its row count and order-independent hash with
``expected.json``, and it checks that the physical plans Spark recorded
for each query hold at least one Python exec node.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

from streamming_processing_pyspark_spark import tables as engine_tables
from streamming_processing_pyspark_spark.operators.pipeline import clear_cc_memo
from streamming_processing_pyspark_spark.registry import build_queries

from common import Run, session
from probe import JobStats, SqlExecutions, drain_listener_bus, plan_phases_ms, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
DATA_DIR = os.path.join(HERE, "data", "sf0.1")

#: The dedup family (minhash candidate pairs -> connected components ->
#: cluster-size histogram, which can reuse intermediates within a pass) and
#: the head of the ANN chain (IVF top-k: sample -> quantize -> probe ->
#: re-rank). The rest of the chain is left out to keep a run short.
PYTHON_SUITE = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_cluster_size_histogram",
    "ivf_topk",
)
#: the tables those queries read
SUITE_TABLES = ("documents", "embeddings")


def _canon(v) -> str:
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if v is None:
        return "<null>"
    return str(v)


def result_hash(columns, rows) -> str:
    """Order-independent hash over column names and row values (floats to
    six significant digits)."""
    digests = sorted(hashlib.sha1(_canon(tuple(r)).encode()).digest() for r in rows)
    h = hashlib.sha1(",".join(columns).encode())
    for d in digests:
        h.update(d)
    return h.hexdigest()


def clear_shared_state(spark) -> None:
    clear_cc_memo()
    engine_tables.clear_persist_slots()
    spark.catalog.clearCache()


class _TimedLoadTable:
    """Wraps the package's ``load_table`` wherever it is bound, summing the
    time spent in it (traced runs only)."""

    def __init__(self):
        self.orig, self.total, self.mods = engine_tables.load_table, 0.0, []

    def __enter__(self):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return self.orig(*a, **k)
            finally:
                self.total += time.perf_counter() - t0

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is self.orig and mod.__name__.startswith(
                "streamming_processing_pyspark_spark"
            ):
                setattr(mod, "load_table", timed)
                self.mods.append(mod)
        return self

    def __exit__(self, *exc):
        for mod in self.mods:
            mod.load_table = self.orig
        return False


def _check_pass(run: Run, spark, fns, data_dir, expected):
    """Collect every query once; returns {name: {"rows", "hash"}}. With
    ``expected``, each result must match it and each query's plans must
    hold at least one Python exec node."""
    sqlx = SqlExecutions(spark)
    sc = spark.sparkContext
    out = {}
    for name in PYTHON_SUITE:
        sc.setJobGroup(f"check-{name}", name)
        try:
            df = fns[name](spark, data_dir)
            rows = df.collect()
            got = {"rows": len(rows), "hash": result_hash(df.columns, rows)}
        except Exception as e:  # noqa: BLE001 - any failure counts
            run.count_op(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        drain_listener_bus(spark)
        nodes, _ = sqlx.python_nodes()
        out[name] = got
        if expected is not None:
            run.count_op(expected.get(name) == got, f"{name} rows/hash {got} != {expected.get(name)}")
            run.count_op(nodes > 0, f"{name}: {nodes} Python exec nodes")
    clear_shared_state(spark)
    return out


def _timed_pass(run: Run, spark, fns, data_dir, traced: bool, tag: str):
    """One pass; returns per-query (wall, process-tree CPU) seconds and,
    when traced, the pass's per-layer totals."""
    sc = spark.sparkContext
    times, build, execute = {}, 0.0, 0.0
    layer: dict[str, float] = defaultdict(float)
    if traced:
        stats, sqlx = JobStats(spark), SqlExecutions(spark)
    with _TimedLoadTable() if traced else nullcontext() as loads:
        for name in PYTHON_SUITE:
            group = f"{tag}-{name}"
            sc.setJobGroup(group, name)
            c0 = tree_cpu_s(os.getpid())
            with run.tracer.span("query", query=name):
                t0 = time.perf_counter()
                with run.tracer.span("registry.build", query=name):
                    df = fns[name](spark, data_dir)
                t1 = time.perf_counter()
                with run.tracer.span("registry.run", query=name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            times[name] = (t2 - t0, tree_cpu_s(os.getpid()) - c0)
            build += t1 - t0
            execute += t2 - t1
            if not traced:
                continue
            for k, v in plan_phases_ms(df).items():
                layer[f"plan.{k}_ms"] += v
            drain_listener_bus(spark)
            for k, v in stats.collect({group}).items():
                layer[f"operators.{k}"] += v
            nodes, rows = sqlx.python_nodes(with_rows=True)
            layer["operators.python_stages"] += nodes
            layer["operators.python_rows"] += rows
            layer["tables.cached_rdds"] = max(
                layer["tables.cached_rdds"], sc._jsc.getPersistentRDDs().size()
            )
    if traced:
        layer["tables.load_table_s"] = loads.total
        layer["registry.build_s"] = build
        layer["registry.run_s"] = execute
    clear_shared_state(spark)
    return times, layer


def _passes(run, spark, fns, data_dir, traced: bool, tag: str):
    """Timed passes until ``run.seconds`` have elapsed (at least one)."""
    passes = []
    t_end = time.perf_counter() + run.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(_timed_pass(run, spark, fns, data_dir, traced, f"{tag}{len(passes)}"))
    return passes


def _start(run: Run):
    def prepare(spark):
        for t in SUITE_TABLES:
            engine_tables.load_table(spark, DATA_DIR, t).createOrReplaceTempView(t)

    spark = session(run, prepare)
    return spark, build_queries(), DATA_DIR


def registry_python(run: Run) -> None:
    spark, fns, data_dir = _start(run)
    with open(EXPECTED) as f:
        expected = json.load(f)
    checked = _check_pass(run, spark, fns, data_dir, expected)
    if run.failed:
        return
    result_rows = sum(v["rows"] for v in checked.values())
    passes = _passes(run, spark, fns, data_dir, False, "p")
    # one figure per query, its median over the passes
    suite, suite_cpu = (
        sum(statistics.median(t[name][k] for t, _ in passes) for name in PYTHON_SUITE)
        for k in (0, 1)
    )
    run.e2e["suite_s"] = suite
    run.e2e["rows_per_s"] = result_rows / suite
    run.e2e["rows_per_cpu_s"] = result_rows / suite_cpu
    run.note(f"{len(PYTHON_SUITE)} queries, {len(passes)} timed passes, "
             f"{result_rows} result rows per pass")
    if not run.trace:
        return
    # untraced and then traced passes, back to back: the timed pass above
    # still runs slower than later ones, so the overhead is taken against
    # a repeat
    plain = _passes(run, spark, fns, data_dir, False, "q")
    run.start_rss()
    traced = _passes(run, spark, fns, data_dir, True, "t")
    for _, layer in traced:
        for k, v in layer.items():
            run.layers[k] = run.layers.get(k, 0) + v / len(traced)
    for name in PYTHON_SUITE:
        run.layers[f"query.{name}_s"] = statistics.median(t[name][0] for t, _ in traced)
    traced_suite = sum(run.layers[f"query.{name}_s"] for name in PYTHON_SUITE)
    plain_suite = sum(statistics.median(t[name][0] for t, _ in plain) for name in PYTHON_SUITE)
    run.layers["trace.overhead_pct"] = 100 * (traced_suite / plain_suite - 1)


def record(run: Run) -> None:
    """Write ``expected.json`` from one check pass."""
    spark, fns, data_dir = _start(run)
    out = _check_pass(run, spark, fns, data_dir, None)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
