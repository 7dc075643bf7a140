"""Custom stateful streaming operator: a gap-based sessionizer built on
``applyInPandasWithState`` (north-star §2.9 extension — the escape hatch
for session semantics the built-in ``session_window`` can't express,
here per-session distinct-type counts and duration).

Execution model: events stream in grouped by ``user_id``; each user's
open session lives in a GroupState tuple (start/last ns, counts, value
sum, distinct-type set). A new event either extends the open session or
closes it — closed sessions are APPENDED downstream immediately, the
open one stays in state. State is one tuple per active user, bounded by
the user population with open sessions, not by stream length; the Arrow
batch transfer keeps the Python stage vectorized.

Determinism caveat (documented, test-guarded): sessions are emitted only
when CLOSED by a later event, so each user's final (still-open) session
stays in state at drain time — the oracle therefore excludes every
user's last session. Within a micro-batch events are sorted by event
time; cross-batch reordering is bounded in production by pairing this
with ``withWatermark`` upstream (the AvailableNow drain here delivers
the single parquet file as one ordered batch).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gcp_datalake_utils_spark.streaming.windows import (
    _event_stream,
    run_available_now,
)

SESSION_GAP_SECS = 900  # same 15-minute gap as windows.user_sessions

OUTPUT_SCHEMA = ("user_id long, session_start string, n_events long, "
                 "n_event_types long, duration_secs long, "
                 "session_value double")
STATE_SCHEMA = ("start_ns long, last_ns long, n long, value_sum double, "
                "types string")


def _closed_session_row(st: tuple) -> dict[str, Any]:
    start_ns, last_ns, n, value_sum, types = st
    start = pd.Timestamp(start_ns)
    return {
        "user_id": None,  # filled by caller
        "session_start": start.strftime("%Y-%m-%d %H:%M:%S"),
        "n_events": n,
        "n_event_types": len(types.split("|")),
        "duration_secs": (last_ns - start_ns) // 1_000_000_000,
        "session_value": value_sum,
    }


def _sessionize(key: tuple, pdfs: Iterable[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    parts = list(pdfs)
    batch = parts[0] if len(parts) == 1 else pd.concat(parts)
    if len(batch) == 0:
        return
    batch = batch.sort_values("ts")
    st = state.get if state.exists else None
    out: list[dict[str, Any]] = []
    # one vectorized ns cast instead of a pd.Timestamp per event (the
    # loop arithmetic below is unchanged — same ints, same floats)
    ns_l = (batch["ts"].to_numpy().astype("datetime64[ns]")
            .astype("int64").tolist())
    for ns, etype, value in zip(ns_l, batch["event_type"].tolist(),
                                batch["value"].tolist()):
        if st is not None and \
                ns - st[1] > SESSION_GAP_SECS * 1_000_000_000:
            out.append(_closed_session_row(st))
            st = None
        if st is None:
            st = (ns, ns, 1, float(value), str(etype))
        else:
            types = st[4] if str(etype) in st[4].split("|") \
                else st[4] + "|" + str(etype)
            st = (st[0], ns, st[2] + 1, st[3] + float(value), types)
    state.update(st)
    if out:
        pdf = pd.DataFrame(out)
        pdf["user_id"] = user_id
        pdf["session_value"] = pdf["session_value"].round(6)
        yield pdf[["user_id", "session_start", "n_events",
                   "n_event_types", "duration_secs", "session_value"]]


def closed_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_type", "value")
    return (e.groupBy("user_id")
            .applyInPandasWithState(
                _sessionize, OUTPUT_SCHEMA, STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def closed_sessions_stream_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """[Q] drained closed sessions (every session except each user's
    final open one), with stats session_window can't produce."""
    out = run_available_now(closed_sessions_stream(spark, sf_dir))
    return out.select("user_id", "session_start", "n_events",
                      "n_event_types", "duration_secs",
                      F.round("session_value", 6).alias("session_value"))


CLOSED_SESSIONS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {SESSION_GAP_SECS} SECOND
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
agg AS (
  SELECT user_id, session_id,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         count(*) AS n_events,
         count(DISTINCT event_type) AS n_event_types,
         CAST(floor(epoch(max(ts) - min(ts))) AS BIGINT)
           AS duration_secs,
         round(sum(value), 6) AS session_value,
         max(session_id) OVER (PARTITION BY user_id) AS last_session
  FROM sessions
  GROUP BY user_id, session_id
)
SELECT user_id, session_start, n_events, n_event_types, duration_secs,
       session_value
FROM agg WHERE session_id < last_session
"""


# --- streaming funnel: stateful sequential pattern matching -------------

FUNNEL_HORIZON_HOURS = 72
_FUNNEL_STEPS = ["view", "click", "purchase"]

FUNNEL_OUTPUT_SCHEMA = ("user_id long, t_view string, t_click string, "
                        "t_purchase string, total_secs long")
FUNNEL_STATE_SCHEMA = "step long, t1 long, t2 long, t3 long"


def _advance_funnel(key: tuple, pdfs: Iterable[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user funnel automaton: state is (step, t1, t2, t3) ns — one
    4-tuple per user regardless of stream length. Processing events in
    event-time order makes 'first qualifying event' equal the batch
    min() chain, so the batch funnel SQL is the oracle. A completed
    user parks at step=3 and ignores further events (first completion
    only, matching the batch chain)."""
    (user_id,) = key
    parts = list(pdfs)
    batch = parts[0] if len(parts) == 1 else pd.concat(parts)
    if len(batch) == 0:
        return
    batch = batch.sort_values("ts")
    step, t1, t2, t3 = state.get if state.exists else (0, 0, 0, 0)
    horizon_ns = FUNNEL_HORIZON_HOURS * 3600 * 1_000_000_000
    out: list[dict[str, Any]] = []
    ns_l = (batch["ts"].to_numpy().astype("datetime64[ns]")
            .astype("int64").tolist())
    for ns, etype in zip(ns_l, batch["event_type"].tolist()):
        if step >= len(_FUNNEL_STEPS):
            break
        t_prev = (0, t1, t2)[step]
        if str(etype) != _FUNNEL_STEPS[step]:
            continue
        if step > 0 and not (ns > t_prev and ns - t_prev <= horizon_ns):
            continue
        if step == 0:
            t1 = ns
        elif step == 1:
            t2 = ns
        else:
            t3 = ns
            out.append({
                "user_id": user_id,
                "t_view": pd.Timestamp(t1).strftime(
                    "%Y-%m-%d %H:%M:%S"),
                "t_click": pd.Timestamp(t2).strftime(
                    "%Y-%m-%d %H:%M:%S"),
                "t_purchase": pd.Timestamp(t3).strftime(
                    "%Y-%m-%d %H:%M:%S"),
                "total_secs": (t3 - t1) // 1_000_000_000,
            })
        step += 1
    state.update((step, t1, t2, t3))
    if out:
        yield pd.DataFrame(out)[["user_id", "t_view", "t_click",
                                 "t_purchase", "total_secs"]]


def funnel_completions_stream(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = _event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_type")
    return (e.groupBy("user_id")
            .applyInPandasWithState(
                _advance_funnel, FUNNEL_OUTPUT_SCHEMA,
                FUNNEL_STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout))


def funnel_completions_stream_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """[Q] users who completed view->click->purchase (greedy chain,
    72 h per-step horizon) with their step timestamps — the streaming
    twin of operators/funnel, emitted incrementally as completions
    happen instead of recomputed per batch. Unlike the sessionizer
    there is no open-tail caveat: a completion is final the moment the
    purchase lands, so stream output == batch chain exactly."""
    out = run_available_now(funnel_completions_stream(spark, sf_dir))
    return out.select("user_id", "t_view", "t_click", "t_purchase",
                      "total_secs")


FUNNEL_COMPLETIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
s1 AS (SELECT user_id, min(ts) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t1
         AND e.ts <= s1.t1 + INTERVAL {FUNNEL_HORIZON_HOURS} HOUR
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         AND e.ts <= s2.t2 + INTERVAL {FUNNEL_HORIZON_HOURS} HOUR
       GROUP BY e.user_id)
SELECT s1.user_id,
       strftime(s1.t1, '%Y-%m-%d %H:%M:%S') AS t_view,
       strftime(s2.t2, '%Y-%m-%d %H:%M:%S') AS t_click,
       strftime(s3.t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
       CAST(floor(epoch(s3.t3 - s1.t1)) AS BIGINT) AS total_secs
FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id)
"""
