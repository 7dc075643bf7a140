"""Local replica of the driver's correctness gate.

Runs each ``queries()`` entry through Spark and the matching
``oracle_sql()`` entry through DuckDB over the same parquet tables,
comparing row count, sorted column names, and an order-insensitive
value hash (floats rounded to 6 places). Usage:

    python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, 6):.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm_cell(row[i]) for i in order) for row in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def run_duck(sql: str, sf_dir: str):
    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')")
    # mirror the Spark loader's adaptive events-ts normalization
    # (sources/registry.event_ts_to_micros): tmp timing corpora store
    # ts as BIGINT nanos, which plain `CAST(ts AS TIMESTAMP)` oracles
    # cannot read — re-expose the view with integer-exact micros.
    ts_type = con.execute(
        "SELECT typeof(ts) FROM events LIMIT 1").fetchone()
    if ts_type and ts_type[0] == "BIGINT":
        con.execute("CREATE OR REPLACE VIEW events AS "
                    "SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM read_parquet('{sf_dir}/events.parquet')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return rows, cols


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] \
        else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    # the checkout this script belongs to, so a parent copy beside the
    # change checks its own code
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    # Deliberately a VANILLA session (not our session factory): the
    # driver's harness builds its own SparkSession, so any conf the engine
    # needs must be set by the engine at read time — checking with our own
    # tuned session would mask host-session bugs (this hid the round-1
    # nanosAsLong failure).
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[32]")
             .appName("correctness-check")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle, "
                  f"{time.time() - t0:.1f}s)")
            continue
        try:
            drows, dcols = run_duck(oracles[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        sh, dh = table_hash(srows, scols), table_hash(drows, dcols)
        ok_hash = sh == dh
        status = "ok   " if (ok_count and ok_schema and ok_hash) else "FAIL "
        schema_msg = "=" if ok_schema else (
            str(sorted(scols)) + " vs " + str(sorted(dcols)))
        hash_msg = "=" if ok_hash else (sh[:8] + "!=" + dh[:8])
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} "
              f"schema={schema_msg} hash={hash_msg} "
              f"({time.time() - t0:.1f}s)")
        if not (ok_count and ok_schema and ok_hash):
            failures.append(name)
            if len(srows) and len(drows) and ok_schema:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(_norm_cell(r[i]) for i in order)
                        for r in srows}
                dset = {tuple(_norm_cell(r[i]) for i in order)
                        for r in drows}
                for r in list(sset - dset)[:3]:
                    print(f"        spark-only: {r}")
                for r in list(dset - sset)[:3]:
                    print(f"        duck-only:  {r}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
