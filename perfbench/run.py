"""spark-graft benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload taxi_backlog --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record     # rewrite expected.json at this commit

Run from the repository root. Workloads (see BENCHMARK.json for why each
was chosen): taxi_backlog, registry_python.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` repeats the measurement with tracing on and reports the
per-layer metrics, including the tracing overhead (traced minus untraced,
as a percentage); spans with self times go to
``.bench_work/trace-<workload>-<seed>.json``.

Every line but the last is a human-readable report. The last line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
All scratch files live under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ["TZ"] = "UTC"
time.tzset()

import common  # noqa: E402
import suites  # noqa: E402
import taxi  # noqa: E402

WORKLOADS = {
    "taxi_backlog": taxi.taxi_backlog,
    "registry_python": suites.registry_python,
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
#: printed for the workloads that define them, not part of the JSON line
REPORTED = {"rows_per_s": "rows/s", "first_batch_s": "s", "suite_s": "s", "fail_ratio": "ratio"}


def shutdown(run: common.Run) -> None:
    """Stop Spark and the JVM, waiting for it to exit."""
    from pyspark import SparkContext

    if run.rss:
        run.layers["process.peak_rss_mb"] = run.rss.stop()
    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="rewrite expected.json from a check pass of the registry suite")
    args = p.parse_args(argv)
    if not args.record and not args.workload:
        p.error("--workload is required")
    run = common.Run(args.workload or "record", args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        if args.record:
            suites.record(run)
        else:
            WORKLOADS[args.workload](run)
    except Exception as e:  # noqa: BLE001 - an aborted workload is a failed operation
        run.count_op(False, f"aborted: {type(e).__name__}: {str(e)[:300]}")
    finally:
        shutdown(run)
    if run.trace:
        run.tracer.write(os.path.join(run.base, f"trace-{run.workload}-{run.seed}.json"))
    shutil.rmtree(run.work, ignore_errors=True)
    if args.record:
        print(f"recorded {suites.EXPECTED}; failures: {run.failures}")
        return 1 if run.failed else 0

    run.e2e["fail_ratio"] = run.failed / max(run.attempted, 1)
    print(f"workload {run.workload}  seed {run.seed}  master local[{common.cpus()}]  "
          f"trace {int(run.trace)}")
    for line in run.notes:
        print(f"  {line}")
    for what in run.failures:
        print(f"  FAILED: {what}")
    for name, unit in {**END_TO_END, **REPORTED}.items():
        if name in run.e2e:
            print(f"  {name:<34} {run.e2e[name]:>14.4f} {unit}")
    wanted = PER_LAYER if run.trace else END_TO_END
    if run.trace:
        for name in sorted(run.layers):
            print(f"  {name:<34} {run.layers[name]:>14.4f} {PER_LAYER.get(name, '')}")
        for name, secs in sorted(run.tracer.self_times().items()):
            print(f"  span self time {name:<20} {secs:>10.4f} s")
    source = run.layers if run.trace else run.e2e
    metrics = {
        name: {"value": float(source.get(name, 0.0)), "unit": unit}
        for name, unit in wanted.items()
    }
    ok = run.failed == 0 and (run.trace or all(name in run.e2e for name in END_TO_END))
    print(json.dumps({"correct": ok, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
