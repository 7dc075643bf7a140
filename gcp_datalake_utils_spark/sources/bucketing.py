"""Bucketed table layout: the 100 TB co-located-join strategy.

Big fact-fact joins (lineitem ⋈ orders on orderkey) shuffle both sides
every query unless the storage layout pre-partitions them. Writing both
tables bucketed by the join key with the same bucket count lets Spark
plan the join shuffle-free (bucket pruning + co-located scans).

``write_bucketed`` persists a DataFrame as a bucketed managed table;
``plan_has_shuffle`` is the test hook proving the plan has no
Exchange on the bucketed key. ``orderkey_store`` is the session's one
such layout over the payload corpus (lineitem and orders bucketed by
orderkey), and ``corpus_table`` names every per-corpus store table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from gcp_datalake_utils_spark.session import SessionCache, session_key
from gcp_datalake_utils_spark.sources.registry import load_table
from gcp_datalake_utils_spark.sources.scratch import pid_scratch


def write_bucketed(df: DataFrame, table: str, key: str,
                   buckets: int = 16,
                   sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Persist as a bucketed (and optionally sorted) table — sorted
    buckets additionally enable merge-join without sorting. Replaces an
    existing table, clearing any orphaned location left by an
    interrupted earlier write. With ``path`` the table is external at
    ``path/<table>`` (host-warehouse-independent — the warehouse dir is
    a static conf a host session may point anywhere)."""
    import shutil
    from urllib.parse import urlparse
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None:
        loc = f"{path.rstrip('/')}/{table.lower()}"
        shutil.rmtree(loc, ignore_errors=True)
    else:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        # orphan-location cleanup applies only to local, unqualified
        # managed tables; remote warehouses (gs://, hdfs://) and
        # qualified names resolve elsewhere and are left to the catalog
        if wh.scheme in ("", "file") and "." not in table:
            shutil.rmtree(
                f"{(wh.path or wh.geturl()).rstrip('/')}/{table.lower()}",
                ignore_errors=True)
    w = (df.write.mode("overwrite")
         .bucketBy(buckets, key))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", loc)
    w.saveAsTable(table)


def bucketed_join(spark: SparkSession, left: str, right: str,
                  left_key: str, right_key: str) -> DataFrame:
    l_df = spark.table(left)
    r_df = spark.table(right)
    return l_df.join(r_df, l_df[left_key] == r_df[right_key])


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan repartitions data across the cluster —
    any Exchange node (hash, range, round-robin, single-partition)
    except BroadcastExchange, which moves a small build side, not the
    data."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        "Exchange" in ln and "BroadcastExchange" not in ln
        for ln in plan.splitlines())


def corpus_table(prefix: str, sf_dir: str) -> str:
    """``<prefix>_<md5(sf_dir)[:8]>``: the catalog name of a store table
    built from the corpus at ``sf_dir``. Stores are memoized per
    (session, sf_dir), so their tables must be named per corpus too: a
    fixed name would let a second corpus's build repoint the table
    under the first corpus's memo entry."""
    return f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"


# layout memo: one orderkey store per (session, sf_dir)
_ORDERKEY_STORE = SessionCache()


def orderkey_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(lineitem, orders) table names of the corpus's orderkey store:
    both tables bucketed 32 ways by orderkey and sorted by it, written
    once per session and corpus. The fact-fact join and any per-order
    grouping then plan with no Exchange on orderkey (at 100 TB this is
    the tables' write-time layout, not a per-query cost; locally the
    first caller in a session pays the build).

    pid-scoped path: concurrent processes (driver gate + local bench)
    must not overwrite each other's store; atexit-removed + dead-pid
    orphans swept (sources/scratch.py). Sorted buckets let a merge join
    or a streaming agg read both sides in key order with no per-query
    Sort."""
    def _build() -> tuple[str, str]:
        loc = pid_scratch("/tmp/spark_graft_bucketed", sf_dir)
        t_li = corpus_table("bk_lineitem", sf_dir)
        t_o = corpus_table("bk_orders", sf_dir)
        write_bucketed(
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount"),
            t_li, "l_orderkey", buckets=32,
            sort_cols=["l_orderkey"], path=loc)
        write_bucketed(
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey"),
            t_o, "o_orderkey", buckets=32,
            sort_cols=["o_orderkey"], path=loc)
        return t_li, t_o

    return _ORDERKEY_STORE.get_or_build((session_key(spark), sf_dir),
                                        _build)
