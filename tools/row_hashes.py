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

--oracle hashes the DuckDB oracles instead (``--oracle q1 q2`` or
``--oracle --all``): each oracle's SQL runs over the parquet tables of
``$SPARK_GRAFT_SF_DIR`` with the same md5-over-sorted-rows scheme,
prefixed by the result's column names and types, and no Spark session
is started. Comparing a parent map with a change's map proves that a
rewrite of oracle SQL returns the same rows:

    python tools/row_hashes.py --oracle --all > oracles.json

--compare A B reads two saved maps and prints one line per query whose
hash differs or that only one map has; it exits 1 on any difference and
0 when the maps are identical (no Spark session is started):

    python tools/row_hashes.py --all > before.json   # on the parent tree
    python tools/row_hashes.py --all > after.json    # on the change
    python tools/row_hashes.py --compare before.json after.json
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from streamming_processing_pyspark_spark.registry import build_oracles, build_queries
from streamming_processing_pyspark_spark.session import get_spark
from streamming_processing_pyspark_spark.tables import TABLE_NAMES, clear_all


def _md5(schema: str, rows: list[str]) -> str:
    h = hashlib.md5()
    h.update(schema.encode())
    for r in sorted(rows):
        h.update(r.encode())
    return h.hexdigest()


def query_hash(df) -> str:
    return _md5(repr(df.schema), [repr(r) for r in df.collect()])


def oracle_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    schema = repr([(d[0], str(d[1])) for d in cur.description])
    return _md5(schema, [repr(r) for r in cur.fetchall()])


def oracle_hashes(names: list[str], sf_dir: str) -> dict[str, str]:
    """{oracle: hash} of the named DuckDB oracles over ``sf_dir``."""
    import duckdb

    oracles = build_oracles()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, str] = {}
    for name in names:
        try:
            out[name] = oracle_hash(con, oracles[name]) if name in oracles else "!unknown"
        except duckdb.Error as e:
            out[name] = f"!error: {type(e).__name__}: {e}"[:200]
        print(f"{name}: {out[name]}", file=sys.stderr)
    return out


def compare(path_a: str, path_b: str) -> int:
    """Print the queries whose hashes differ between two saved maps."""
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    diff = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for name in diff:
        print(f"{name}: {a.get(name, '<absent>')} != {b.get(name, '<absent>')}")
    print(f"{len(diff)} of {len(a.keys() | b.keys())} queries differ", file=sys.stderr)
    return 1 if diff else 0


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--compare" in sys.argv:
        if len(args) != 2:
            print("usage: row_hashes.py --compare A.json B.json", file=sys.stderr)
            return 2
        return compare(*args)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if "--oracle" in sys.argv:
        names = sorted(build_oracles()) if "--all" in sys.argv else args
        print(json.dumps(oracle_hashes(names, sf_dir), indent=1, sort_keys=True))
        return 0
    hot = "--hot" in sys.argv
    spark = get_spark(app_name="row_hashes")
    queries = build_queries()
    names = list(queries) if "--all" in sys.argv else args
    out: dict[str, str] = {}
    for name in names:
        if name not in queries:
            out[name] = "!unknown"
            continue
        if not hot:
            clear_all(spark)
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
