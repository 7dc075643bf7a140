"""Structured Streaming surface over event tables (SURVEY.md §2.9 ext).

The reference has no streaming operators; its incremental machinery is
batch change-detection. This module gives the engine the thin streaming
surface the north star asks for: event-time tumbling windows with
watermarks, streaming dedup, and session windows — each expression
shared with a batch twin so the oracle can check semantics (streaming
and batch use the same Catalyst expressions; only the source/sink
differ).

Run model: file-source streams over the parquet layout with
``Trigger.AvailableNow`` drain-and-stop (test mode) or continuous
micro-batches (production); watermarks bound state so a 100 TB/day
stream holds only the open windows. A drain runs
``min(spark.sql.shuffle.partitions, defaultParallelism)`` state
partitions (see ``run_available_now``): the session's shuffle setting
is the ceiling, the cluster's task slots the cap.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources import load_events, load_table
from gcp_datalake_utils_spark.sources.registry import event_ts_to_micros

SESSION_GAP = "15 minutes"
_SESSION_GAP_SQL = "INTERVAL 15 MINUTE"


def _stream_dir(sf_dir: str, table: str) -> str:
    """The file stream source requires a directory; expose the single
    ``<table>.parquet`` file through a per-(sf, table) symlink dir
    under /tmp."""
    import hashlib
    import os
    # abspath: a RELATIVE sf_dir would otherwise produce a symlink that
    # resolves relative to the link's own directory — dangling, so the
    # stream reads 0 rows.
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    d = os.path.join(
        "/tmp", "spark_graft_streams",
        hashlib.md5(src.encode()).hexdigest()[:12])
    os.makedirs(d, exist_ok=True)
    try:
        os.symlink(src, os.path.join(d, f"{table}.parquet"))
    except FileExistsError:
        pass  # linked earlier, or by a concurrent process
    return d


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream with the batch schema; ts converted exactly as
    the batch loader does."""
    schema = load_table(spark, sf_dir, "events").schema
    raw = (spark.readStream.schema(schema)
           .parquet(_stream_dir(sf_dir, "events")))
    return event_ts_to_micros(raw)


def windowed_counts_stream(spark: SparkSession, sf_dir: str,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling-window aggregation with watermark-bounded
    state; shares its expression with payload.events_hourly."""
    e = _event_stream(spark, sf_dir)
    return (e.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value")))


def dedup_stream(spark: SparkSession, sf_dir: str,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark``) — the streaming twin of the
    corpus dedup operators."""
    e = _event_stream(spark, sf_dir)
    return (e.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


# Held across a drain's conf save / set / start / restore, so two
# concurrent drains cannot leave the session at the reduced value.
_DRAIN_START_LOCK = threading.Lock()


def run_available_now(stream_df: DataFrame) -> DataFrame:
    """Drain the stream to a memory sink (test harness): processes all
    available input as micro-batches, then stops. The sink gets a
    unique name, and its catalog view is dropped once the result frame
    is bound (or the drain fails), so drains leave no tables behind;
    the frame keeps the sink's rows alive.

    State partitions: a stateful query fixes its state-partition count
    at ``start()`` from ``spark.sql.shuffle.partitions``, and AQE never
    coalesces stateful stages, so partitions beyond the task slots only
    add task waves and state-store commits. The query therefore starts
    with that conf at ``min(<session value>, defaultParallelism)``, and
    the session's value is restored as soon as ``start()`` returns."""
    spark = stream_df.sparkSession
    name = f"stream_q_{uuid.uuid4().hex}"
    writer = (stream_df.writeStream.format("memory").queryName(name)
              .outputMode("complete" if _has_agg(stream_df) else "append")
              .trigger(availableNow=True))
    key = "spark.sql.shuffle.partitions"
    with _DRAIN_START_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(min(
            int(prev), spark.sparkContext.defaultParallelism)))
        try:
            q = writer.start()
        finally:
            spark.conf.set(key, prev)
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        if q.isActive:
            q.stop()
        spark.catalog.dropTempView(name)


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()


def windowed_counts_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] the streaming tumbling-window aggregation, AvailableNow-drained
    to a memory sink and flattened for the oracle: identical Catalyst
    expressions to the batch twin (events_hourly minus the countDistinct,
    which streaming aggs don't support), so batch SQL is the oracle."""
    out = run_available_now(windowed_counts_stream(spark, sf_dir))
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
        .alias("hour_start"),
        "event_type", "n_events", "total_value")


WINDOWED_COUNTS_STREAM_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""


def sliding_counts_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] sliding event-time windows (2h length, 1h slide): each event
    contributes to two overlapping windows. Drained AvailableNow; the
    oracle replays the window assignment by exploding each event into
    its two window starts."""
    e = _event_stream(spark, sf_dir)
    out = run_available_now(
        e.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value")))
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        "event_type", "n_events", "total_value")


SLIDING_COUNTS_STREAM_ORACLE = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM (
  SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                 date_trunc('hour', CAST(ts AS TIMESTAMP))
                   - INTERVAL 1 HOUR]) AS ws,
         event_type, value
  FROM events
)
GROUP BY 1, 2
"""


def dedup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] streaming dedup on (user_id, event_type, hour) — collapse
    repeated same-type events from a user within the hour, the classic
    click-storm dedup. State is watermark-bounded
    (``dropDuplicatesWithinWatermark``); the projection keeps only the
    dedup keys so which physical row survived (arrival-order dependent)
    never affects the result, making the batch DISTINCT the oracle."""
    e = _event_stream(spark, sf_dir).withColumn(
        "hour_start",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"))
    dd = (e.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark(
              ["user_id", "event_type", "hour_start"]))
    out = run_available_now(dd)
    return out.select("user_id", "event_type", "hour_start")


DEDUP_STREAM_ORACLE = """
SELECT DISTINCT user_id, event_type,
       strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS hour_start
FROM events
"""


def enriched_segment_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] stream-static enrichment: the event stream joined to the
    static customer dimension (user_id = c_custkey) inside the
    micro-batch, then a watermarked per-(segment, hour) rollup. The
    dimension side is a broadcast hash join per micro-batch — the
    standard streaming-enrichment shape; at 100 TB/day the static side
    is a snapshotted dim table and the state is still bounded by
    (segments x open windows). Events with no matching customer flow
    through as segment 'UNKNOWN' (left join), mirroring orphan_users."""
    e = _event_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = (e.join(cust, "user_id", "left")
                .withColumn("segment",
                            F.coalesce("c_mktsegment", F.lit("UNKNOWN"))))
    out = run_available_now(
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value")))
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
        .alias("hour_start"),
        "segment", "n_events", "total_value")


ENRICHED_SEGMENT_STREAM_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS hour_start,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       round(sum(e.value), 6) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def click_attribution_stream_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """[Q] stream-stream interval join: each purchase event joins the
    SAME user's click events from the preceding 30 minutes — the
    classic attribution join. Both sides are watermarked so the click
    buffer state is bounded by the interval + watermark horizon (the
    100 TB/day requirement); the join condition carries the event-time
    range predicate Spark uses to expire state. Drained AvailableNow;
    the oracle replays the identical interval join in batch SQL."""
    e = _event_stream(spark, sf_dir)
    clicks = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "1 hour"))
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select("user_id",
                         F.col("event_id").alias("purchase_id"),
                         F.col("value").alias("purchase_value"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "1 hour"))
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts")
           >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")))
    out = run_available_now(
        joined.select("purchase_id", "click_id", "user_id",
                      F.round("purchase_value", 6)
                      .alias("purchase_value")))
    return out


CLICK_ATTRIBUTION_STREAM_ORACLE = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id, round(p.value, 6) AS purchase_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP)
     >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] session windows per user (gap-based), batch-checked: Spark's
    ``session_window`` vs a gaps-and-islands oracle. The same expression
    runs streaming with ``withWatermark`` upstream."""
    e = load_events(spark, sf_dir)
    return (e.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("session_value"))
            .select(
                "user_id",
                F.date_format("session_window.start",
                              "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                "n_events", "session_value"))


USER_SESSIONS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY ts)
                   > {_SESSION_GAP_SQL}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 6) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def daily_activity_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintainer for the cohort family's daily-activity
    store (operators/cohort._ensure_daily_activity): per-(user, day)
    endpoint types + event count as ONE watermarked streaming
    aggregation. This is the production shape of the CDC contract
    daily_activity_cdc gates in batch — the ingest stream keeps the
    (user, day) state table current; finalized day windows append
    into the day-partitioned store. Min/max over (ts, event_id,
    event_type) structs are streaming-safe agg buffers (monoid
    combine — exactly the merge daily_activity_cdc performs on
    batches)."""
    s = _event_stream(spark, sf_dir).withWatermark("ts", "2 days")
    ev = F.struct("ts", "event_id", "event_type")
    return (s.groupBy("user_id", F.window("ts", "1 day").alias("w"))
            .agg(F.min(ev).alias("mn"), F.max(ev).alias("mx"),
                 F.count("*").alias("n_events")))


def daily_activity_stream_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """[Q] the streaming daily-activity maintainer, AvailableNow-
    drained and flattened; the oracle is daily_activity_cdc's FULL
    RECOMPUTE SQL — stream state == batch recompute, hash-exactly
    (window('1 day') aligns to session-tz midnight, matching the
    batch side's to_date)."""
    out = run_available_now(daily_activity_stream(spark, sf_dir))
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        F.col("mn")["event_type"].alias("first_type"),
        F.col("mx")["event_type"].alias("last_type"),
        F.col("n_events").cast("long").alias("n_events"))


def daily_activity_store_append(spark: SparkSession,
                                sf_dir: str) -> str:
    """Build the user-bucketed daily-activity STORE from historical
    events (day < corpus max day − 30), run the watermarked streaming
    day-window maintainer over the last-30-days tail, and APPEND the
    drained finalized windows into the store (r9 verdict ask #4 — the
    append claim as executed code, not prose). Returns the post-append
    table name.

    The cut is a DATE boundary, so the batch half (day < cut) and the
    stream half (day >= cut) own disjoint day partitions and the drain
    is a pure partition append — exactly the degenerate case
    daily_activity_cdc's merge documents for day-aligned batches. The
    append goes through saveAsTable with the SAME (32, user_id) bucket
    spec and (user_id, day) sort the store was created with, so the
    post-append scan still reports HashPartitioning(user_id) and the
    zero-Exchange consumer contract survives the append."""
    from gcp_datalake_utils_spark.sources.bucketing import (
        corpus_table,
        write_bucketed,
    )
    from gcp_datalake_utils_spark.sources.scratch import pid_scratch

    t = corpus_table("act_store_sas", sf_dir)
    loc = pid_scratch("/tmp/spark_graft_dailyact_sas", sf_dir)

    e = (load_events(spark, sf_dir)
         .select("user_id", F.to_date("ts").alias("day"),
                 "ts", "event_id", "event_type"))
    cut = e.agg(F.date_sub(F.max("day"), 30)).collect()[0][0]
    ev = F.struct("ts", "event_id", "event_type")
    old = (e.where(F.col("day") < F.lit(cut))
           .groupBy("user_id", "day")
           .agg(F.min(ev)["event_type"].alias("first_type"),
                F.max(ev)["event_type"].alias("last_type"),
                F.count("*").cast("long").alias("n_events")))
    # fresh store each call (write_bucketed overwrites), so the append
    # below is idempotent per invocation
    write_bucketed(old.repartition(32, "user_id"), t, "user_id",
                   buckets=32, sort_cols=["user_id", "day"], path=loc)

    tail = (_event_stream(spark, sf_dir)
            .where(F.to_date("ts") >= F.lit(cut))
            .withWatermark("ts", "2 days"))
    evs = F.struct("ts", "event_id", "event_type")
    agg = (tail.groupBy("user_id", F.window("ts", "1 day").alias("w"))
           .agg(F.min(evs).alias("mn"), F.max(evs).alias("mx"),
                F.count("*").alias("n_events")))
    drained = (run_available_now(agg)
               .select("user_id",
                       F.col("w.start").cast("date").alias("day"),
                       F.col("mn")["event_type"].alias("first_type"),
                       F.col("mx")["event_type"].alias("last_type"),
                       F.col("n_events").cast("long")
                       .alias("n_events")))
    (drained.repartition(32, "user_id").write.mode("append")
     .bucketBy(32, "user_id").sortBy("user_id", "day")
     .saveAsTable(t))
    return t


def daily_activity_store_stream_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """[Q] the POST-APPEND daily-activity store read back from disk
    (historical batch build + streamed last-30-days tail appended by
    ``daily_activity_store_append``), hashed against the CDC FULL
    RECOMPUTE oracle: store-after-append == recompute-from-scratch,
    which is the maintenance contract actually demonstrated end to end
    — stream drain lands in the bucketed table, not a memory sink."""
    t = daily_activity_store_append(spark, sf_dir)
    return (spark.table(t)
            .select("user_id",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "first_type", "last_type",
                    F.col("n_events").cast("long").alias("n_events")))
