"""Detection-pipeline behavior (reference semantics, fixed tie-breaks)."""

from __future__ import annotations

import pytest

from gcp_datalake_utils_spark.operators import detection


@pytest.fixture(scope="module")
def rels(spark):
    return detection.detect_all(spark).collect()


def test_classic_naming_pluralization(spark, rels):
    # orders2.user_id -> users (via enhanced or custom naming pattern)
    hits = [r for r in rels if r.source_table == "orders2"
            and r.source_column == "user_id" and r.target_table == "users"]
    assert hits, "user_id -> users relationship missing"


def test_data_vault_hub_reference_quirk(spark):
    # Reference quirk preserved: enhanced detection skips columns already
    # flagged FK (relationship_detector.py:158-160), and *_hk columns are
    # always FK-flagged by the shipped config — so hub references are
    # carried by classification, not by the hub-name strategies (which
    # only ever see non-FK columns).
    out = detection.detect_enhanced_pk_fk(spark).collect()
    hits = [r for r in out if r.source_column == "adam_hk"]
    assert not hits
    from gcp_datalake_utils_spark.operators.classify import (
        classified_columns,
    )
    row = (classified_columns(spark)
           .where("table_id = 'l_adam_misgeret' AND name = 'adam_hk'")
           .collect())
    assert row[0]["is_fk"]


def test_custom_rules_survive_pipeline(rels):
    hits = [r for r in rels if r.source_table == "lineitem"
            and r.target_table == "orders"]
    assert hits and hits[0].confidence >= 0.9


def test_ghost_rule_dropped(rels):
    assert not [r for r in rels if r.source_table == "ghost_table"]


def test_max_three_per_source_table(rels):
    from collections import Counter
    counts = Counter(r.source_table for r in rels)
    assert max(counts.values()) <= detection.MAX_RELS_PER_TABLE


def test_pair_dedup(rels):
    pairs = [(r.source_table, r.target_table) for r in rels]
    assert len(pairs) == len(set(pairs))


def test_min_confidence_floor(rels):
    assert all(r.confidence >= detection.MIN_CONFIDENCE for r in rels)


def test_conflict_resolution_keeps_max_confidence(spark):
    resolved = detection.resolve_conflicts(
        detection.detect_foreign_keys(spark)
        .unionByName(detection.apply_custom_rules(spark))).collect()
    keyed = {}
    for r in resolved:
        k = (r.source_table, r.source_column, r.target_table,
             r.target_column)
        assert k not in keyed, "duplicate endpoint key after resolution"
        keyed[k] = r


def test_asof_order_precedes_event(spark, sf_dir):
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.operators import asof
    from gcp_datalake_utils_spark.sources import load_table
    res = asof.asof_last_order(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("ots"))
    bad = (res.where(F.col("last_orderkey").isNotNull())
           .join(orders, "last_orderkey")
           .where(F.col("ots") > F.to_timestamp("event_ts")))
    assert bad.count() == 0


def test_relationship_empty_side_yields_zero_row(spark, sf_dir):
    """A spec whose sampled sides are empty must produce a zeros row
    (oracle semantics), not silently vanish from the report."""
    from gcp_datalake_utils_spark.operators import datatest
    row = datatest.test_relationship(
        spark, sf_dir, "orders", "o_custkey", "customer", "c_custkey",
        "INT64", "INT64", sample_fraction=0.0).collect()
    assert len(row) == 1
    r = row[0]
    assert r.referential_integrity == 0.0
    assert r.distinct_source == 0 and r.common_values == 0


def test_relationship_rejects_types_that_do_not_widen(spark, sf_dir):
    """A spec pairing a string column with an integer one raises while
    the plan is built; it is never compared through a silent cast."""
    from gcp_datalake_utils_spark.operators import datatest
    with pytest.raises(TypeError, match="do not widen"):
        datatest.test_relationship(
            spark, sf_dir, "customer", "c_mktsegment", "nation",
            "n_nationkey", "STRING", "INTEGER")


def test_events_queries_utc_under_non_utc_host(spark, sf_dir):
    """load_table must pin the session timezone to UTC: a host session
    configured for another zone would otherwise shift every rendered
    event timestamp away from the tz-naive oracle."""
    from gcp_datalake_utils_spark.operators import payload
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = payload.events_hourly(spark, sf_dir)
        hours = [r.hour_start for r in df.limit(5).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    oracle_hours = {r[0] for r in con.execute(
        "SELECT DISTINCT strftime(date_trunc('hour', CAST(ts AS "
        "TIMESTAMP)), '%Y-%m-%d %H:%M:%S') FROM events").fetchall()}
    assert set(hours) <= oracle_hours


def test_banded_range_join_matches_naive(spark):
    """The grid-cell candidate join + residual must return EXACTLY the
    naive interval-containment result, including windows that span many
    cells, sub-cell windows, boundary-inclusive starts and exclusive
    ends, and overlapping windows."""
    import datetime as dt
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.operators.rangejoin import (
        BAND_SECONDS, banded_range_join)
    base = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    events = spark.createDataFrame(
        [(i, base + i * 977 * sec) for i in range(200)],
        "event_id long, ts timestamp")
    spans = [  # (id, start_s, end_s): sub-cell, exact-cell, multi-cell,
        (1, 0, 100), (2, 0, BAND_SECONDS), (3, 500, 3 * BAND_SECONDS),
        (4, 7 * BAND_SECONDS - 1, 7 * BAND_SECONDS + 1),
        (5, 0, 200_000), (6, 100, 150),  # overlapping + tiny
    ]
    windows = spark.createDataFrame(
        [(i, base + s * sec, base + e * sec) for i, s, e in spans],
        "window_id long, ws timestamp, we timestamp")
    got = (banded_range_join(events, windows)
           .select("window_id", "event_id"))
    naive = (events.crossJoin(windows)
             .where((F.col("ts") >= F.col("ws"))
                    & (F.col("ts") < F.col("we")))
             .select("window_id", "event_id"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, naive.collect()))
    assert naive.count() > 0
