"""Measure the DuckDB baseline (BASELINE.md protocol): run each headline
query's ORACLE SQL in DuckDB at sf0.1, one discarded warm-up then median
of 3. Prints a markdown table row set + JSON.

Large-sf knobs (all env):
  SPARK_GRAFT_BASE_RUNS      timed runs per query (default 3; use 1 at sf10)
  SPARK_GRAFT_DUCK_MEM       DuckDB memory_limit, e.g. "40GB"
  SPARK_GRAFT_DUCK_TIMEOUT_S per-query wall cap; on expiry the query is
                             interrupted and recorded as null (DNF)
At sf10 the warm-up is skipped when runs==1 (a 100 s query does not
need cache priming to be an honest single-run upper bound).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BASE_RUNS", "3"))
DUCK_MEM = os.environ.get("SPARK_GRAFT_DUCK_MEM")
TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_DUCK_TIMEOUT_S", "0"))

from bench import HEADLINE  # noqa: E402
import __spark_entry__ as entry  # noqa: E402


def _timed(con: duckdb.DuckDBPyConnection, sql: str) -> float | None:
    """One timed execution; None when interrupted by the timeout."""
    timer = None
    if TIMEOUT_S > 0:
        timer = threading.Timer(TIMEOUT_S, con.interrupt)
        timer.start()
    t0 = time.time()
    try:
        con.execute(sql).fetchall()
        return time.time() - t0
    except duckdb.Error as e:
        print(f"  DNF: {e}", file=sys.stderr, flush=True)
        return None
    finally:
        if timer is not None:
            timer.cancel()


def main() -> None:
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    if DUCK_MEM:
        con.execute(f"SET memory_limit='{DUCK_MEM}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents",
                 "embeddings"]:
        # partial corpora (tmp/sf100docs, tmp/vecs*) carry only the
        # tables their evidence runs need — register what exists
        if not os.path.exists(f"{SF_DIR}/{name}.parquet"):
            continue
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')")
    # mirror the Spark loader's adaptive events-ts normalization
    # (sources/registry.py event_ts_to_micros): tools/gen_scale.py
    # corpora store ts as BIGINT nanos, which plain
    # `CAST(ts AS TIMESTAMP)` oracles cannot cast in DuckDB.
    ts_type = None
    if os.path.exists(f"{SF_DIR}/events.parquet"):
        ts_type = con.execute(
            "SELECT typeof(ts) FROM events LIMIT 1").fetchone()
    if ts_type and ts_type[0] == "BIGINT":
        con.execute("CREATE OR REPLACE VIEW events AS "
                    "SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM read_parquet('{SF_DIR}/events.parquet')")
    only = sys.argv[1:]
    per_query = {}
    for name in (only or HEADLINE):
        if name not in oracles:
            continue  # rows-only queries (e.g. approx sketches)
        sql = oracles[name]
        if RUNS > 1:
            _timed(con, sql)  # warm-up
        times = [t for _ in range(RUNS)
                 if (t := _timed(con, sql)) is not None]
        per_query[name] = round(statistics.median(times), 3) if times \
            else None
        print(f"  {name}: {per_query[name]}", file=sys.stderr, flush=True)
    done = [v for v in per_query.values() if v is not None]
    print(json.dumps({"sf_dir": SF_DIR, "runs": RUNS,
                      "duckdb": per_query,
                      "total": round(sum(done), 3)}))


if __name__ == "__main__":
    main()
