"""Registry consistency: every name the benchmarks time resolves to a
registered query, and retired names stay retired. No Spark session is
started here."""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from gcp_datalake_utils_spark.queries_registry import RETIRED  # noqa: E402
from perfbench.workloads import WORKLOADS, resolve  # noqa: E402


def test_headline_names_are_registered():
    queries = entry.queries()
    missing = [n for n in bench.HEADLINE if n not in queries]
    assert not missing, missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_perfbench_workloads_resolve():
    queries = entry.queries()
    for workload in WORKLOADS:
        assert resolve(workload, queries)


def test_retired_names_absent():
    queries, oracles = entry.queries(), entry.oracle_sql()
    for name, survivor in RETIRED.items():
        assert name not in queries
        assert name not in oracles
        assert name not in bench.HEADLINE
        assert survivor in queries and survivor in oracles


def test_semdedup_cache_is_eager():
    from gcp_datalake_utils_spark.llm import semdedup
    from gcp_datalake_utils_spark.session import SessionCache
    assert isinstance(semdedup._SEM_CACHE, SessionCache)


def test_result_memos_are_session_caches():
    """The data-test, detection and bucketed-layout memos are bounded,
    locked caches, and len() (read by the benchmark's memo probe)
    counts entries."""
    from gcp_datalake_utils_spark.functions import scale_demos
    from gcp_datalake_utils_spark.operators import datatest, detection
    from gcp_datalake_utils_spark.session import SessionCache
    for memo in (datatest._REPORT_CACHE, detection._DETECT_CACHE,
                 scale_demos._BUCKETED):
        assert isinstance(memo, SessionCache)
    c = SessionCache(maxsize=2)
    for k in "abc":
        c.put(k, k)
    assert len(c) == 2 and "a" not in c


def _calls_outside(matches, allowed: str) -> list[str]:
    """``file:line in function`` of every call in the package for which
    ``matches(call)`` holds, outside the function named ``allowed``."""
    pkg = os.path.join(ROOT, "gcp_datalake_utils_spark")
    hits = []

    def visit(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)
            if (isinstance(child, ast.Call) and matches(child)
                    and name != allowed):
                hits.append(f"{rel}:{child.lineno} in {name}")
            visit(child, name, rel)

    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                visit(tree, None, os.path.relpath(path, ROOT))
    return hits


def _method(call: ast.Call, name: str) -> bool:
    return isinstance(call.func, ast.Attribute) and call.func.attr == name


def test_rows_enter_through_local_frame():
    """``createDataFrame`` over Python rows is a pickled Python RDD whose
    every scan starts a Python worker; ``local_frame`` builds a JVM
    LocalRelation instead, so it is the package's only caller."""
    hits = _calls_outside(lambda c: _method(c, "createDataFrame"),
                          "local_frame")
    assert not hits, hits


def test_tables_are_read_through_load_table():
    """A bare parquet read of a corpus table runs Spark's schema
    inference job on every call; ``load_table`` infers once per file."""
    def corpus_read(c):
        return (_method(c, "parquet")
                and ast.unparse(c.func.value).endswith(".read")
                and "sf_dir" in ast.unparse(c.args))
    hits = _calls_outside(corpus_read, "load_table")
    assert not hits, hits
