#!/usr/bin/env python
"""Sorted-row MD5 per query — output-identity evidence for optimization
rounds (proves a touched query's rows are bit-identical before/after).

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/row_hashes.py q1 q2
    python tools/row_hashes.py --all          # every registered query

Each hash is md5 over the sorted repr of collected rows (column order
from the schema, row order canonicalized by sorting the reprs), prefixed
by the schema string, so both values and schema are pinned. Prints one
JSON object {query: hash}.

--hot runs every query twice WITHOUT clearing the cache between runs and
reports the second run's hash: comparing a --hot map against a default
(cold, cache cleared per query) map proves cache-independence of outputs
(VERDICT r11 §3/§4 evidence).
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from streamming_processing_pyspark_spark.registry import build_queries
from streamming_processing_pyspark_spark.session import get_spark
from streamming_processing_pyspark_spark.tables import clear_persist_slots


def query_hash(df) -> str:
    rows = sorted(repr(r) for r in df.collect())
    h = hashlib.md5()
    h.update(repr(df.schema).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    hot = "--hot" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="row_hashes")
    queries = build_queries()
    names = list(queries) if "--all" in sys.argv else args
    out: dict[str, str] = {}
    for name in names:
        if name not in queries:
            out[name] = "!unknown"
            continue
        if not hot:
            clear_persist_slots()
            spark.catalog.clearCache()
            gc.collect()
        try:
            df = queries[name](spark, sf_dir)
            h = query_hash(df)
            if hot:
                h = query_hash(queries[name](spark, sf_dir))
            out[name] = h
        except Exception as e:  # noqa: BLE001
            out[name] = f"!error: {type(e).__name__}: {e}"[:200]
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
