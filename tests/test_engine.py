"""Engine facade: the migration surface a reference user would drive."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from streamming_processing_pyspark_spark import session as S
from streamming_processing_pyspark_spark.engine import Engine

from .conftest import SF_DIR
from .taxi_fixture import default_plan, write_taxi_files


def test_engine_end_to_end_task2(spark, tmp_path):
    eng = Engine(spark, sf_dir=SF_DIR)
    d = str(tmp_path / "taxi")
    out = str(tmp_path / "out")
    write_taxi_files(d, default_plan())

    trips = eng.taxi_trips(d)
    assert trips.count() == 7

    q = eng.stream_hourly_to_files(d, out)
    q.processAllAvailable()
    q.stop()
    assert sorted(os.listdir(out)) == ["output-3960000", "output-4320000"]

    assert "q1_pricing_summary" in eng.list_queries()
    assert eng.query("hourly_counts").count() > 0
    assert eng.oracle("hourly_counts") is not None
    assert eng.oracle("simhash_fingerprints") is None

    eng.tables()
    assert eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"] > 0


def test_cli_list_and_oracle(capsys):
    from streamming_processing_pyspark_spark.__main__ import main

    assert main(["list"]) == 0
    names = capsys.readouterr().out.split()
    assert "hourly_counts" in names and "ngram_jaccard_pairs" in names
    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "lineitem" in capsys.readouterr().out
    assert main(["oracle", "minhash_lsh_pairs"]) == 0
    assert "rows-only" in capsys.readouterr().out


def test_registry_outputs_are_driver_safe_scalars(spark):
    """VERDICT r8 §2 (registry lint): the driver's canonicalizer sorts
    result frames by every column, so a nested column (array/map/struct)
    in ANY registered query's output crashes the slate row (the r8
    embedding_whiten_audit failure). Walk the whole registry at sf0.001
    and assert every output field is an atomic type. A query may only
    escape via the explicit whitelist below, which requires a documented
    rows-only contract AND a scalar _check twin — currently empty."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from streamming_processing_pyspark_spark.registry import build_queries

    # name -> reason; empty on purpose: anything added here must carry a
    # rows-only contract in its docstring and a scalar *_check twin
    whitelist: dict[str, str] = {}

    offenders = {}
    for name, fn in sorted(build_queries().items()):
        if name in whitelist:
            continue
        df = fn(spark, SF_DIR)
        nested = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, f"nested output columns would crash the driver canonicalizer: {offenders}"


def test_check_order_front_loads_changed_sources(monkeypatch):
    """VERDICT r9 §4: a query whose implementation changed since its
    last driver check (source hash ≠ committed receipt) must sort ahead
    of every unchanged query, regardless of how many green rows it has;
    queries with no receipt (new ops) keep their fewest-green rank."""
    from streamming_processing_pyspark_spark import registry as R

    hashes = R.query_source_hashes()
    names = sorted(hashes)
    # the most-checked query in the registry, with a deliberately stale
    # receipt; everything else gets its true current hash
    counts, _ = R._checked_row_counts()
    most_checked = max(names, key=lambda n: counts.get(n, 0))
    fake = {n: hashes[n] for n in names}
    fake[most_checked] = "stale-sentinel"
    monkeypatch.setattr(R, "_source_receipts", lambda: fake)
    order = R.check_order(list(names), hashes)
    assert order[0] == most_checked

    # the changed-source invariant, pinned on CONSTRUCTED receipts
    # rather than a live-round snapshot (the r10 form hardcoded
    # resize_plan's state and went stale the moment r11's receipt stamp
    # ran): fresh receipt + untouched source is never flagged, a stale
    # receipt is, and a receiptless (new) query is not.
    a, b = names[0], names[1]
    monkeypatch.setattr(
        R,
        "_source_receipts",
        lambda: {a: hashes[a], b: "stale-sentinel"},
    )
    assert R._changed_since_receipt(hashes) == {b}
    # live-file structural sanity: only receipt-bearing queries can be
    # flagged (never a new op with no receipt)
    monkeypatch.undo()
    assert R._changed_since_receipt(hashes) <= set(R._source_receipts())


@pytest.mark.parametrize(
    "key, local_value",
    [
        (S.LISTING_THRESHOLD_KEY, S.LOCAL_LISTING_THRESHOLD),
        (S.CHECKPOINT_MANAGER_KEY, S.LOCAL_CHECKPOINT_MANAGER),
        (S.FILE_SYSTEM_KEY, S.LOCAL_FILE_SYSTEM),
    ],
    ids=["listing_threshold", "checkpoint_manager", "file_system"],
)
def test_local_only_session_defaults(spark, tmp_path, key, local_value):
    """Local masters list files on the driver and commit checkpoint files
    through the FileSystem-based manager on Hadoop's LocalFileSystem;
    cluster masters keep Spark's defaults; ``extra_conf`` still
    overrides."""
    for master in ("local", "local[4]", "local[*]"):
        assert S.session_conf(master)[key] == local_value
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443",
                   "local-cluster[2,1,1024]"):
        assert key not in S.session_conf(master)
    override = {key: "x"}
    assert S.session_conf("local[4]", extra_conf=override)[key] == "x"
    # the test session is local, so it carries the local default
    assert spark.conf.get(key) == local_value

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    if key == S.CHECKPOINT_MANAGER_KEY:
        manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
        assert manager.create(path, hadoop_conf).getClass().getName() == local_value
    if key == S.FILE_SYSTEM_KEY:
        assert S.file_system_class(spark) == local_value


_REUSE_SCRIPT = r"""
import tempfile

from pyspark.sql import SparkSession

from streamming_processing_pyspark_spark import session as S

plain = (
    SparkSession.builder.master("local[1]")
    .appName("unpinned")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
spark = S.get_spark(master="local[1]")
jvm = spark._jvm
path = jvm.org.apache.hadoop.fs.Path(tempfile.mkdtemp())
manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
print(spark._jsparkSession.equals(plain._jsparkSession))
print(S.file_system_class(spark))
print(manager.create(path, spark._jsparkSession.sessionState().newHadoopConf()).getClass().getName())
"""


def test_reused_unpinned_session_keeps_default_checkpoint_manager():
    """``get_spark`` reusing a local session whose context started without
    the ``file:`` pin keeps Spark's FileContext checkpoint manager: that
    JVM's cached ``file:`` FileSystem is Hive's, whose rename would make
    the FileSystem-based manager skip overwriting writes. Needs its own
    JVM, since the shared test session started with the pin."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", _REUSE_SCRIPT],
        capture_output=True, text=True, timeout=300, cwd=repo, env=env,
    )
    assert proc.returncode == 0, f"stderr tail: {proc.stderr[-3000:]}"
    reused, file_system, manager = proc.stdout.split()[-3:]
    assert reused == "True"
    assert file_system != S.LOCAL_FILE_SYSTEM
    assert manager.endswith("FileContextBasedCheckpointFileManager")


#: Package definitions that only tests reach, kept on purpose (one reason
#: each). A module entry covers every top-level definition in it.
_TEST_ONLY_KEEP = {
    "streaming.jobs.word_counts_stream": "the reference's socket word count (Client.py)",
    "sources.streams.socket_lines": "the reference's socket source (Client.py)",
    "streaming.jobs.write_trending_files": "the reference's Task4 trend file sink",
    "streaming.ingest_dedup.run_streaming_ingest_dedup": "the continuous ingest-dedup loop's entry point",
    "operators.similarity._lpa_oracle_sql": "DuckDB reference the LPA tests compare against",
    "operators.similarity._triangles_oracle_sql": "DuckDB reference the triangle tests compare against",
    "functions.geo.classify_points_pandas_udf": "numpy ray-cast form the codegen'd geofence expression is checked against",
    "operators.analytics5._docs_with_fps": "batch harness pinning the Arrow winnowing kernel (_fp_batches) to the Catalyst default",
    "operators.analytics5._winnow_positions": "the Catalyst winnowing selection _docs_with_fps is checked against",
    "plans.explain": "plan-assertion helpers for the plan tests",
}


def _defined_names(node) -> list[str]:
    """Names a top-level statement binds: a def/class, or assignment targets."""
    import ast

    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def test_no_package_definition_is_reached_only_from_tests():
    """Every top-level package definition is referenced (a name, an
    attribute or an import) from package, bench.py, __spark_entry__.py,
    tools/ or perfbench/ code outside the definition itself, or is on
    ``_TEST_ONLY_KEEP``. Docstrings and comments do not count. The keep
    list carries no stale entry."""
    import ast
    import glob
    from collections import Counter

    import streamming_processing_pyspark_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    repo = os.path.dirname(pkg_dir)
    sources = [
        *glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True),
        os.path.join(repo, "bench.py"),
        os.path.join(repo, "__spark_entry__.py"),
        *glob.glob(os.path.join(repo, "tools", "*.py")),
        *glob.glob(os.path.join(repo, "perfbench", "**", "*.py"), recursive=True),
    ]

    def names(node):
        found = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                found.add(n.id)
            elif isinstance(n, ast.Attribute):
                found.add(n.attr)
            elif isinstance(n, ast.alias):
                found.add(n.name.rsplit(".", 1)[-1])
        return found

    mentions = Counter()  # name -> top-level statements that mention it
    defs = []
    for path in sources:
        with open(path) as f:
            tree = ast.parse(f.read())
        in_pkg = path.startswith(pkg_dir + os.sep)
        module = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            own = names(node)
            mentions.update(own)
            if in_pkg:
                defs += [(f"{module}.{name}", name, own) for name in _defined_names(node)]
    unreached = {
        qual
        for qual, name, own in defs
        if not name.startswith("__") and mentions[name] == (name in own)
    }

    def covers(entry, qual):
        return qual == entry or qual.startswith(entry + ".")

    assert sorted(q for q in unreached if not any(covers(k, q) for k in _TEST_ONLY_KEEP)) == []
    stale = [k for k in _TEST_ONLY_KEEP if not any(covers(k, q) for q in unreached)]
    assert stale == []


#: Top-level names that several package modules define on purpose (one
#: reason each).
_PER_MODULE_NAMES = {
    "QUERIES": "each operator module's query table, merged by registry.build_queries",
    "ORACLES": "each operator module's oracle SQL table, merged by registry.build_oracles",
    "Tables": "the one-line alias of the table dict each operator module takes",
    "_oracles": "the builder of its own module's ORACLES",
}


def test_no_top_level_name_is_defined_in_two_package_modules():
    """A constant or helper is defined in one package module and imported
    where else it is used, so nothing has to keep two copies equal (a
    hash modulus, a PRNG constant, an oracle SQL fragment). Names on
    ``_PER_MODULE_NAMES`` are exempt; that list carries no stale entry."""
    import ast
    import glob
    from collections import defaultdict

    import streamming_processing_pyspark_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    modules = defaultdict(set)  # name -> package modules that bind it
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        module = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            for name in _defined_names(node):
                if not name.startswith("__"):
                    modules[name].add(module)
    repeated = {n: sorted(m) for n, m in modules.items() if len(m) > 1}
    assert {n: m for n, m in repeated.items() if n not in _PER_MODULE_NAMES} == {}
    assert sorted(set(_PER_MODULE_NAMES) - set(repeated)) == []


#: The defining fragment of each exact DuckDB reference rule, and the
#: one builder that writes it. Oracles compose the builder instead of
#: re-typing the rule.
_REFERENCE_RULE_FRAGMENTS = {
    "for j in range(SHINGLE_WORDS)": "dedup._shingle_duck, the word-shingle join",
    "na.n + nb.n - common": "dedup._scores_duck, the exact Jaccard score",
    "reach(node, lab)": "dedup._components_duck, the min-label components",
    "embeddings a JOIN embeddings b": "similarity._cos_join_duck, the cosine pair join",
}


def test_each_duckdb_reference_rule_is_written_once():
    """Each fragment of ``_REFERENCE_RULE_FRAGMENTS`` appears exactly
    once in package source, and no oracle derives a cosine by rewriting
    another's SQL text (``.replace('b.embedding', ...)``)."""
    import glob
    import re

    import streamming_processing_pyspark_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    src = ""
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        with open(path) as f:
            src += f.read()
    counts = {frag: src.count(frag) for frag in _REFERENCE_RULE_FRAGMENTS}
    assert counts == dict.fromkeys(_REFERENCE_RULE_FRAGMENTS, 1)
    assert re.findall(r"\.replace\(\s*['\"]b\.embedding", src) == []
