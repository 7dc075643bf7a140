"""Snapshot store: time-travel reads + guarded restore (SURVEY.md §2.1
S7/S8/P11, §3.3).

The reference restores BigQuery tables from time travel via ``bq cp
table@EPOCH_MS`` with a ``FOR SYSTEM_TIME AS OF`` CTAS fallback
(``bigquery-restore/restore_dataset.sh:143-186``). Without Delta in this
environment, the engine implements the same semantics over a
parquet-per-version layout:

    <base>/<table>/v=<epoch_ms>/   (one parquet dir per snapshot)

- ``write_snapshot``   -> versioned parquet write (the CTAS sink, S8)
- ``read_as_of``       -> latest version <= timestamp (S7)
- ``restore_table``    -> exists-guard + force semantics (P11) + summary
  row per table (A11), mirroring the script's skip/cp/CTAS outcomes

On Delta-capable clusters the same API maps 1:1 to ``timestampAsOf`` /
``RESTORE TABLE``; versions here are explicit so behavior is
deterministic and testable. Version listing touches only directory
names — no data files are opened until the chosen version is read.
Each version carries its frame's schema in ``_schema.json`` (Spark's
reader skips ``_``-prefixed files), so a read plans under that schema
and runs no schema-inference job.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gcp_datalake_utils_spark.sources.registry import local_frame


def _version_dir(base: str, table: str, epoch_ms: int) -> str:
    return os.path.join(base, table, f"v={epoch_ms}")


def list_versions(base: str, table: str) -> list[int]:
    tdir = os.path.join(base, table)
    if not os.path.isdir(tdir):
        return []
    out = []
    for name in os.listdir(tdir):
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


_SCHEMA_FILE = "_schema.json"


def write_snapshot(df: DataFrame, base: str, table: str,
                   epoch_ms: int | None = None) -> int:
    """S8: persist a new snapshot version and its schema; returns its
    epoch_ms."""
    epoch_ms = int(time.time() * 1000) if epoch_ms is None else epoch_ms
    path = _version_dir(base, table, epoch_ms)
    df.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, _SCHEMA_FILE), "w") as f:
        f.write(df.schema.json())
    return epoch_ms


def _read_snapshot(spark: SparkSession, base: str, table: str,
                   epoch_ms: int) -> DataFrame:
    """One version, read under the schema ``write_snapshot`` stored
    beside it."""
    path = _version_dir(base, table, epoch_ms)
    with open(os.path.join(path, _SCHEMA_FILE)) as f:
        schema = StructType.fromJson(json.load(f))
    return spark.read.schema(schema).parquet(path)


def _to_epoch_ms(ts: int | str) -> int:
    """Accept epoch-ms ints or ISO timestamp strings (the form Delta's
    ``timestampAsOf`` takes)."""
    if isinstance(ts, int):
        return ts
    from datetime import datetime, timezone
    dt = datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def read_as_of(spark: SparkSession, base: str, table: str,
               epoch_ms: int | str) -> DataFrame:
    """S7: read the latest snapshot at or before ``epoch_ms`` (the
    ``table@EPOCH_MS`` / Delta ``timestampAsOf`` semantics; ISO strings
    accepted)."""
    epoch_ms = _to_epoch_ms(epoch_ms)
    versions = [v for v in list_versions(base, table) if v <= epoch_ms]
    if not versions:
        raise FileNotFoundError(
            f"no snapshot of {table} at or before {epoch_ms}")
    return _read_snapshot(spark, base, table, versions[-1])


def read_version(spark: SparkSession, base: str, table: str,
                 version: int) -> DataFrame:
    """Delta ``versionAsOf`` analog: ordinal into the version history
    (0 = oldest; negatives index from the end, -1 = latest)."""
    versions = list_versions(base, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots of {table}")
    try:
        epoch_ms = versions[version]
    except IndexError:
        raise FileNotFoundError(
            f"{table} has {len(versions)} versions; no ordinal {version}")
    return _read_snapshot(spark, base, table, epoch_ms)


def snapshot_diff(spark: SparkSession, base: str, table: str,
                  old: int | str, new: int | str,
                  key_cols: list[str]) -> DataFrame:
    """Change detection between two snapshots (the incremental
    processor's per-row analog of the schema checksum gate): full-outer
    join on the key columns, rows classified added / removed / changed /
    unchanged by hashing the non-key columns. One shuffle per side on
    the key — at 100 TB this is the standard CDC reconciliation join;
    AQE handles skewed keys."""
    from pyspark.sql import functions as F
    a = read_as_of(spark, base, table, _to_epoch_ms(old))
    b = read_as_of(spark, base, table, _to_epoch_ms(new))
    # value columns = union of BOTH schemas (sorted for determinism):
    # a column added or dropped between snapshots reads as NULL on the
    # side that lacks it, so rows differing only in it classify as
    # 'changed' instead of erroring (added) or passing silently (dropped)
    val_cols = sorted((set(a.columns) | set(b.columns)) - set(key_cols))

    def _hashed(df: DataFrame, tag: str) -> DataFrame:
        cells = [F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
                 if c in df.columns else F.lit("\\N") for c in val_cols]
        h = F.md5(F.concat_ws("\x01", *cells))
        return df.select(*key_cols, h.alias(f"h_{tag}"))

    joined = _hashed(a, "old").join(_hashed(b, "new"), key_cols,
                                    "full_outer")
    status = (F.when(F.col("h_old").isNull(), "added")
              .when(F.col("h_new").isNull(), "removed")
              .when(F.col("h_old") != F.col("h_new"), "changed")
              .otherwise("unchanged"))
    return joined.select(*key_cols, status.alias("status"))


def _tmp_base(sf_dir: str, kind: str) -> str:
    """Per-process scratch dir for the [Q] snapshot queries, wiped on
    every call so repeated runs within a process are reproducible. The
    path carries the pid: a path shared across processes (the driver's
    correctness run next to a local bench/pytest) races — one process
    rmtree's the store while the other's Spark job is mid-read.
    Removed at process exit; dead-pid orphans swept (scratch.py)."""
    from gcp_datalake_utils_spark.sources.scratch import pid_scratch
    return pid_scratch(os.path.join("/tmp", "spark_graft_snapshots", kind),
                       sf_dir)


def snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] S7+CDC: materialize two deterministic snapshots of ``orders``
    (v1 drops keys divisible by 7; v2 drops keys divisible by 3 and
    inflates o_totalprice by 10% on keys divisible by 5), then run the
    full-outer CDC reconciliation between them. Statuses derive purely
    from key arithmetic, so the DuckDB oracle reproduces them without a
    snapshot store."""
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.sources.registry import load_table
    base = _tmp_base(sf_dir, "diff")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.where("o_orderkey % 7 <> 0")
    v2 = (orders.where("o_orderkey % 3 <> 0")
          .withColumn("o_totalprice",
                      F.when(F.expr("o_orderkey % 5 = 0"),
                             F.col("o_totalprice") * 1.1)
                      .otherwise(F.col("o_totalprice"))))
    write_snapshot(v1, base, "orders", 1000)
    write_snapshot(v2, base, "orders", 2000)
    return snapshot_diff(spark, base, "orders", 1000, 2000, ["o_orderkey"])


SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
), v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
)
SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       CASE WHEN v1.o_orderkey IS NULL THEN 'added'
            WHEN v2.o_orderkey IS NULL THEN 'removed'
            WHEN v1.o_totalprice <> v2.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
"""


def restore_summary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] A11+P11: the restore run-loop summary
    (``restore_dataset.sh:196-204`` semantics) over a three-way
    deterministic scenario: one table restorable, one blocked by an
    existing target (skip guard), one with no snapshot (failure row)."""
    base = _tmp_base(sf_dir, "restore")
    target = _tmp_base(sf_dir, "restore_target")
    from gcp_datalake_utils_spark.sources.registry import load_table
    write_snapshot(load_table(spark, sf_dir, "region"), base, "region", 1000)
    write_snapshot(load_table(spark, sf_dir, "nation"), base, "nation", 1000)
    os.makedirs(os.path.join(target, "nation"), exist_ok=True)
    return restore_dataset(
        spark, base, ["region", "nation", "supplier"], 1500, target)


RESTORE_SUMMARY_ORACLE = """
SELECT * FROM (VALUES
  ('region', 'restored', 'as_of=1500'),
  ('nation', 'skipped', 'target exists (use force=True)'),
  ('supplier', 'failed', 'no snapshot of supplier at or before 1500')
) AS t(table_id, status, reason)
"""


def restore_table(spark: SparkSession, base: str, table: str,
                  epoch_ms: int, target_base: str,
                  force: bool = False) -> dict:
    """P11+S7+S8: restore one table into ``target_base/<table>`` —
    skipped if the target exists and not force (restore_dataset.sh:
    147-156), else snapshot-read + overwrite write. Returns the
    script-style outcome row."""
    target = os.path.join(target_base, table)
    if os.path.exists(target) and not force:
        return {"table_id": table, "status": "skipped",
                "reason": "target exists (use force=True)"}
    try:
        df = read_as_of(spark, base, table, epoch_ms)
    except FileNotFoundError as e:
        return {"table_id": table, "status": "failed", "reason": str(e)}
    df.write.mode("overwrite").parquet(target)
    return {"table_id": table, "status": "restored",
            "reason": f"as_of={epoch_ms}"}


def restore_dataset(spark: SparkSession, base: str, tables: list[str],
                    epoch_ms: int, target_base: str,
                    force: bool = False) -> DataFrame:
    """§3.3 run loop + A11 summary: restore each discovered table and
    return the per-table outcome DataFrame."""
    rows = [restore_table(spark, base, t, epoch_ms, target_base, force)
            for t in tables]
    return local_frame(
        spark, [(r["table_id"], r["status"], r["reason"]) for r in rows],
        "table_id string, status string, reason string")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (round 8). The lakehouse pattern
# the snapshot/CDC machinery exists FOR: a downstream aggregate table
# is kept current by applying only the delta between snapshots —
# update cost proportional to |changed rows|, never |table|. At 100 TB
# a full nightly recompute of a stats rollup re-scans the world; the
# CDC-maintained version touches the reconciliation join plus two
# delta-sized aggregates. The [Q] gate is the strongest possible check
# of the pattern: the oracle is the FULL RECOMPUTE over the new
# snapshot — incremental must equal recompute, hash-exactly.
#
# Determinism note: the money metric is integer cents via
# CAST(floor(x * 100 + 0.5) AS BIGINT) — floor and IEEE double
# multiply/add are bit-identical across engines, sidestepping the
# round()-on-arbitrary-doubles HALF_UP-vs-banker's ambiguity that a
# DECIMAL cast of the 1.1-inflated price would risk.
# ---------------------------------------------------------------------------

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


def incremental_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] (o_orderpriority, n_orders, total_cents): per-priority order
    stats for snapshot v2, computed INCREMENTALLY — the v1 rollup plus
    the CDC delta (subtract touched keys' v1 contributions, add their
    v2 contributions) — and gated against the v2 full recompute.

    Plan: one full-agg over v1 (the pre-existing stats table), the CDC
    reconciliation join (snapshot_diff), two DELTA-sized semi-joined
    aggregates, and a tiny 5-row merge. No stage rescans v2 in full
    except the reconciliation the pipeline needs anyway."""
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.sources.registry import load_table

    base = _tmp_base(sf_dir, "incragg")
    orders = load_table(spark, sf_dir, "orders")
    # the same deterministic snapshot pair as snapshot_diff_query
    v1 = orders.where("o_orderkey % 7 <> 0")
    v2 = (orders.where("o_orderkey % 3 <> 0")
          .withColumn("o_totalprice",
                      F.when(F.expr("o_orderkey % 5 = 0"),
                             F.col("o_totalprice") * 1.1)
                      .otherwise(F.col("o_totalprice"))))
    write_snapshot(v1, base, "orders", 1000)
    write_snapshot(v2, base, "orders", 2000)
    s1 = read_as_of(spark, base, "orders", 1000)
    s2 = read_as_of(spark, base, "orders", 2000)

    def rollup(df: DataFrame, n_col: str, c_col: str) -> DataFrame:
        return (df.groupBy("o_orderpriority")
                .agg(F.count("*").alias(n_col),
                     F.sum(F.expr(_CENTS)).alias(c_col)))

    stats1 = rollup(s1, "n1", "c1")
    touched = (snapshot_diff(spark, base, "orders", 1000, 2000,
                             ["o_orderkey"])
               .where(F.col("status") != "unchanged")
               .select("o_orderkey"))
    minus = rollup(s1.join(touched, "o_orderkey", "left_semi"),
                   "nm", "cm")
    plus = rollup(s2.join(touched, "o_orderkey", "left_semi"),
                  "np", "cp")
    merged = (stats1.join(minus, "o_orderpriority", "full_outer")
              .join(plus, "o_orderpriority", "full_outer"))
    z = F.lit(0)
    return (merged.select(
        "o_orderpriority",
        (F.coalesce("n1", z) - F.coalesce("nm", z)
         + F.coalesce("np", z)).cast("long").alias("n_orders"),
        (F.coalesce("c1", z) - F.coalesce("cm", z)
         + F.coalesce("cp", z)).cast("long").alias("total_cents"))
        .where(F.col("n_orders") > 0))


# full recompute over v2 — incremental must equal it hash-exactly
INCREMENTAL_AGG_ORACLE = f"""
WITH v2 AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum({_CENTS}) AS BIGINT) AS total_cents
FROM v2 GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Snapshot retention policy (round 8). The other half of the
# time-travel store's lifecycle: restore_dataset.sh keeps history,
# something must eventually VACUUM it. Policy (the common Delta
# retention shape): keep the newest KEEP_LAST versions outright, plus
# the newest version of each of the last RETAIN_DAYS distinct days;
# everything older is marked for vacuum with the reason recorded.
# ---------------------------------------------------------------------------

KEEP_LAST = 2
RETAIN_DAYS = 3
_DAY_MS = 86_400_000

# deterministic version history: (day, hour) pairs — multiple writes
# some days, gaps on others, so every policy branch has members:
# 'recent' = the two day-6 writes, 'daily' = day 5's newest (day 6's
# is already recent), 'vacuum' = everything on days 1-3
_RETENTION_EPOCHS = [(1, 4), (1, 9), (2, 6), (3, 2), (3, 8),
                     (5, 7), (6, 2), (6, 12)]


def retention_policy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] (epoch_ms, day, keep, reason) over an actual snapshot store:
    write the deterministic 8-version history, read it back through
    ``list_versions`` (the store round-trip is part of what's checked),
    and evaluate the retention policy declaratively — two row_number
    windows over the VERSION list (metadata-scale: version counts are
    bounded by retention itself) and a broadcast max-day bound.
    Reasons: 'recent' (newest KEEP_LAST), 'daily' (newest of a day
    within RETAIN_DAYS of the newest day), 'vacuum' otherwise; `keep`
    is reason != 'vacuum'."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.sources.registry import load_table

    base = _tmp_base(sf_dir, "retention")
    one = load_table(spark, sf_dir, "region").limit(1)
    for day, hour in _RETENTION_EPOCHS:
        write_snapshot(one, base, "region",
                       day * _DAY_MS + hour * 3_600_000)
    versions = local_frame(
        spark, [(int(v),) for v in list_versions(base, "region")],
        "epoch_ms long")
    v = versions.withColumn("day", (F.col("epoch_ms") / _DAY_MS)
                            .cast("long"))
    rn_all = F.row_number().over(
        Window.orderBy(F.desc("epoch_ms")))
    rn_day = F.row_number().over(
        Window.partitionBy("day").orderBy(F.desc("epoch_ms")))
    bounds = F.broadcast(v.agg(F.max("day").alias("max_day")))
    scored = (v.withColumn("rn_all", rn_all)
              .withColumn("rn_day", rn_day)
              .crossJoin(bounds))
    reason = (F.when(F.col("rn_all") <= KEEP_LAST, "recent")
              .when((F.col("rn_day") == 1)
                    & (F.col("day") > F.col("max_day") - RETAIN_DAYS),
                    "daily")
              .otherwise("vacuum"))
    return scored.select(
        "epoch_ms", "day", reason.alias("reason")) \
        .withColumn("keep", F.col("reason") != "vacuum")


def _retention_oracle() -> str:
    rows = ",\n    ".join(
        f"({day * _DAY_MS + hour * 3_600_000})"
        for day, hour in _RETENTION_EPOCHS)
    return f"""
WITH v AS (
  SELECT CAST(epoch_ms AS BIGINT) AS epoch_ms,
         CAST(epoch_ms // {_DAY_MS} AS BIGINT) AS day
  FROM (VALUES
    {rows}
  ) AS t(epoch_ms)
),
b AS (SELECT max(day) AS max_day FROM v),
s AS (
  SELECT epoch_ms, day,
         row_number() OVER (ORDER BY epoch_ms DESC) AS rn_all,
         row_number() OVER (PARTITION BY day ORDER BY epoch_ms DESC)
           AS rn_day
  FROM v
)
SELECT epoch_ms, day,
       CASE WHEN rn_all <= {KEEP_LAST} THEN 'recent'
            WHEN rn_day = 1 AND day > max_day - {RETAIN_DAYS}
              THEN 'daily'
            ELSE 'vacuum' END AS reason,
       CASE WHEN rn_all <= {KEEP_LAST} THEN 'recent'
            WHEN rn_day = 1 AND day > max_day - {RETAIN_DAYS}
              THEN 'daily'
            ELSE 'vacuum' END <> 'vacuum' AS keep
FROM s, b
"""


RETENTION_POLICY_ORACLE = _retention_oracle()
