"""Registry consistency: every name the benchmarks time resolves to a
registered query, and retired names stay retired. No Spark session is
started here."""

from __future__ import annotations

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
