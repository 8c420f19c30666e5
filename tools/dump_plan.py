#!/usr/bin/env python
"""Dump query plans to plans/<round>/<query>_<tag>.txt.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/dump_plan.py \
        --out plans/r12 --tag before query_a query_b ...

By default each file holds ``.explain("formatted")``. ``--normalize``
writes the optimized logical plan and the executed physical plan instead,
with the run-specific parts stripped (expression IDs ``#123``, the
``_7`` suffixes of Python lambda variables, ``plan_id=`` exchange IDs
and RDD IDs), so dumps taken from two source trees can be
compared with ``diff -r``:

    python tools/dump_plan.py --normalize --out /tmp/a --tag n q1 q2  # tree A
    python tools/dump_plan.py --normalize --out /tmp/b --tag n q1 q2  # tree B
    diff -r /tmp/a /tmp/b
"""

from __future__ import annotations

import os
import re
import sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: (pattern, replacement) pairs that drop the run-specific IDs of a plan
_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),  # expression / attribute IDs
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),  # x_12 → x
    (re.compile(r"\bplan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),  # MapPartitionsRDD[17]
]


def normalize(text: str) -> str:
    """``text`` without the IDs that differ between otherwise equal plans."""
    for pattern, repl in _NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def plan_text(df, normalized: bool) -> str:
    qe = df._jdf.queryExecution()
    if not normalized:
        return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return normalize(
        "== Optimized Logical Plan ==\n"
        f"{qe.optimizedPlan().toString()}\n"
        "== Executed Plan ==\n"
        f"{qe.executedPlan().toString()}\n"
    )


def main() -> int:
    args = sys.argv[1:]
    out_dir, tag, names, normalized = "plans/r12", "after", [], False
    it = iter(args)
    for a in it:
        if a == "--out":
            out_dir = next(it)
        elif a == "--tag":
            tag = next(it)
        elif a == "--normalize":
            normalized = True
        else:
            names.append(a)
    from streamming_processing_pyspark_spark.registry import build_queries
    from streamming_processing_pyspark_spark.session import get_spark

    out_dir = os.path.join(ROOT, out_dir)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump_plan")
    queries = build_queries()
    for name in names:
        txt = plan_text(queries[name](spark, sf_dir), normalized)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
