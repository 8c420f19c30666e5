#!/usr/bin/env python
"""Per-query wall/job/stage breakdown for optimization rounds.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py \
        query_a query_b ...

For each query: N warm iterations with the bench's exact hygiene
(tables.clear_all between runs), then a per-job table for
the LAST iteration (description, wall ms, task count, executor run time)
pulled from the UI REST API, so per-stage task time and job-count claims
in OPTIMIZATION_r12.md are reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from streamming_processing_pyspark_spark.registry import build_queries
from streamming_processing_pyspark_spark.session import get_spark
from streamming_processing_pyspark_spark.tables import clear_all

N_ITERS = int(os.environ.get("PROFILE_ITERS", "3"))


def rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}", timeout=30) as r:
        return json.load(r)


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="profile", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    queries = build_queries()
    for name in names:
        if name not in queries:
            print(f"!! unknown query {name}")
            continue
        fn = queries[name]
        walls = []
        for i in range(N_ITERS):
            clear_all(spark)
            sc.setJobGroup(f"{name}#{i}", name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
            sc.setJobGroup(None, None)
        print(
            f"\n=== {name}: walls "
            + " ".join(f"{w:.3f}" for w in walls)
            + f"  min {min(walls):.3f}s"
        )
        last_group = f"{name}#{N_ITERS - 1}"
        jobs = [
            j
            for j in rest(ui, f"applications/{app_id}/jobs")
            if j.get("jobGroup") == last_group
        ]
        jobs.sort(key=lambda j: j["jobId"])
        stages = {
            s["stageId"]: s
            for s in rest(ui, f"applications/{app_id}/stages?status=COMPLETE")
        }
        total_task_ms = 0
        for j in jobs:
            sub = j.get("submissionTime", "")
            comp = j.get("completionTime", "")
            wall_ms = None
            try:
                from datetime import datetime

                f = "%Y-%m-%dT%H:%M:%S.%f%Z"
                wall_ms = (
                    datetime.strptime(comp, f) - datetime.strptime(sub, f)
                ).total_seconds() * 1000
            except Exception:
                pass
            task_ms = sum(
                stages[sid]["executorRunTime"]
                for sid in j.get("stageIds", [])
                if sid in stages
            )
            total_task_ms += task_ms
            desc = (j.get("description") or "")[:90]
            print(
                f"  job {j['jobId']:>4}  wall {wall_ms or -1:>8.0f}ms"
                f"  tasks {j['numTasks']:>4}  taskTime {task_ms:>7}ms  {desc}"
            )
            for sid in sorted(j.get("stageIds", [])):
                s = stages.get(sid)
                if not s:
                    continue
                print(
                    f"      stage {sid:>4} tasks {s['numCompleteTasks']:>3}"
                    f" run {s['executorRunTime']:>7}ms"
                    f" cpu {s.get('executorCpuTime', 0) // 1_000_000:>7}ms"
                    f"  {s['name'][:80]}"
                )
        print(
            f"  == {len(jobs)} jobs, task-time {total_task_ms}ms,"
            f" last wall {walls[-1] * 1000:.0f}ms"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
