"""Driver-side rows enter the engine as Arrow-backed local relations.

``sources.registry.local_frame`` is the package's only
``createDataFrame``: its frames must plan as ``LocalTableScan`` (a JVM
``LocalRelation``), never as ``ExistingRDD`` (a pickled Python RDD that
starts a Python worker per scanned partition), and must collect the
same rows the plain ``createDataFrame`` of the same rows and schema
does.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.operators import datatest
from gcp_datalake_utils_spark.sources import registry
from gcp_datalake_utils_spark.sources.registry import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

PKG = "gcp_datalake_utils_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


FIXTURE_FRAMES = sorted(n for n in dir(fx) if n.endswith("_df"))


def test_fixture_frames_are_enumerated():
    assert len(FIXTURE_FRAMES) == 6, FIXTURE_FRAMES


@pytest.mark.parametrize("name", FIXTURE_FRAMES)
def test_fixture_frames_scan_locally(spark, name):
    _assert_local(getattr(fx, name)(spark))


@pytest.fixture
def recorded(monkeypatch):
    """Every frame ``local_frame`` returns while the fixture is live,
    from whichever module calls it."""
    frames = []
    entry.queries()  # imports every module that builds a local frame

    def recording(spark, rows, schema):
        df = local_frame(spark, rows, schema)
        frames.append(df)
        return df

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith(PKG)
                and mod is not registry
                and getattr(mod, "local_frame", None) is local_frame):
            monkeypatch.setattr(mod, "local_frame", recording)
    return frames


# one registered row per converted call site (the catalog fixtures are
# covered above; the empty-benchmark frame of embedding_decontamination
# by test_empty_rows below)
SITE_ROWS = [
    "pq_codes_sampled",          # llm/pq.py: trained codebook
    "corpus_budget_selection",   # llm/curation.py: budget prefix
    "hll_distinct",              # llm/sketches.py: register columns
    "rules_file_source",         # rules/config.py: parsed rules
    "restore_summary",           # sources/snapshots.py: outcome rows
    "retention_policy",          # sources/snapshots.py: version list
    "drawio_erd_lines",          # formatters/diagrams.py: header, footer
    "force_layout_coords",       # formatters/layout.py: coordinates
]


@pytest.mark.parametrize("name", SITE_ROWS)
def test_call_sites_scan_locally(spark, sf_dir, recorded, name):
    entry.queries()[name](spark, sf_dir)
    assert recorded, f"{name} built no local frame"
    for df in recorded:
        _assert_local(df)


def test_data_test_meta_scans_locally(spark, sf_dir, recorded):
    spec = datatest.DATA_TEST_SPECS[0]
    row = datatest.test_relationship(spark, sf_dir, *spec).collect()
    assert len(row) == 1
    (meta,) = recorded
    _assert_local(meta)
    # the spec tag has _freq's literal type, so the join needs no cast
    assert meta.schema["spec"].dataType.simpleString() == "int"


def _same_rows(spark, rows, schema):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    return new


def test_nullable_ints_match(spark):
    # max_length / precision / scale are None on most columns
    assert any(r[5] is None for r in fx.META_COLUMNS_EXT)
    _same_rows(spark, fx.META_COLUMNS_EXT, fx._COLUMNS_SCHEMA)


def test_empty_rows(spark):
    ddl = "vec_id long, max_sim double, n_hits long, contaminated boolean"
    df = _same_rows(spark, [], ddl)
    assert df.collect() == []
    _assert_local(df)


def test_array_of_double_matches(spark):
    # the PQ codebook shape: (m, code, centroid)
    rows = [(0, 3, [0.125, -1.5, 1e-7]), (1, 0, [2.0, 0.0, -0.0])]
    _same_rows(spark, rows, "m int, code int, centroid array<double>")


def test_derived_map_column_matches(spark):
    old = (spark.createDataFrame(fx.META_TABLES_EXT, fx._TABLES_SCHEMA)
           .withColumn(
               "labels",
               F.when(F.col("labels_str") == "",
                      F.expr("cast(map() as map<string,string>)"))
               .otherwise(F.expr("str_to_map(labels_str, ',', '=')"))))
    new = fx.meta_tables_df(spark)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert any(r["labels"] for r in new.collect())
