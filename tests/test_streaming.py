"""Structured Streaming surface: windowed aggs, streaming dedup,
sessions — streaming results must match their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources import load_events
from gcp_datalake_utils_spark.streaming import windows as sw


def test_windowed_counts_match_batch(spark, sf_dir):
    stream_out = sw.run_available_now(sw.windowed_counts_stream(spark, sf_dir))
    batch = (load_events(spark, sf_dir)
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n_events")))
    got = {(r["window"]["start"], r["event_type"]): r["n_events"]
           for r in stream_out.collect()}
    want = {(r["window"]["start"], r["event_type"]): r["n_events"]
            for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_nothing_on_unique_ids(spark, sf_dir):
    out = sw.run_available_now(sw.dedup_stream(spark, sf_dir))
    n_in = load_events(spark, sf_dir).count()
    assert out.count() == n_in  # event_id is unique in the testdata


def test_sessions_have_positive_counts(spark, sf_dir):
    rows = sw.user_sessions(spark, sf_dir).collect()
    assert rows and all(r.n_events >= 1 for r in rows)


def test_closed_sessions_complement_session_window(spark, sf_dir):
    """Stateful sessionizer == batch session_window minus each user's
    final (still-open) session; stats agree on the closed ones."""
    from gcp_datalake_utils_spark.streaming import stateful, windows
    closed = {(r.user_id, r.session_start): r
              for r in stateful.closed_sessions_stream_q(
                  spark, sf_dir).collect()}
    batch = windows.user_sessions(spark, sf_dir).collect()
    last_start = {}
    for r in batch:
        if (r.user_id not in last_start
                or r.session_start > last_start[r.user_id]):
            last_start[r.user_id] = r.session_start
    n_users = len(last_start)
    assert len(closed) == len(batch) - n_users
    for r in batch:
        key = (r.user_id, r.session_start)
        if r.session_start == last_start[r.user_id]:
            assert key not in closed
        else:
            c = closed[key]
            assert c.n_events == r.n_events
            assert abs(c.session_value - r.session_value) < 1e-6


def test_funnel_stream_matches_batch_counts(spark, sf_dir):
    """The streaming funnel's completion set must agree with the batch
    funnel's step-3 user count (same greedy chain, two engines)."""
    from gcp_datalake_utils_spark.operators import funnel
    from gcp_datalake_utils_spark.streaming import stateful
    stream_rows = stateful.funnel_completions_stream_q(
        spark, sf_dir).collect()
    batch = {r.step_name: r.n_users
             for r in funnel.funnel_conversion(spark, sf_dir).collect()}
    assert len(stream_rows) == batch["purchase"]
    assert len({r.user_id for r in stream_rows}) == len(stream_rows)
    for r in stream_rows:
        assert r.t_view <= r.t_click <= r.t_purchase
        assert r.total_secs >= 0


def test_repeated_drains_leave_no_catalog_tables(spark, sf_dir):
    """Each drain drops its memory-sink view once the result frame is
    bound: N drains leave the catalog as they found it, and every
    drain's frame still reads the same rows."""
    before = len(spark.catalog.listTables())
    results = [sorted(tuple(r) for r in
                      sw.windowed_counts_stream_q(spark, sf_dir).collect())
               for _ in range(3)]
    assert len(spark.catalog.listTables()) == before
    assert results[0] and results[0] == results[1] == results[2]
