"""Parquet table registry over the driver testdata layout.

Mirrors the reference's catalog scan surface (S1-S4,
``bigquery_connector.py:63-240`` in /root/reference/bigquery-to-erd) as
plain parquet reads + temp-view registration: table enumeration is
``spark.catalog.listTables``, schema read is ``df.schema``.

Frames enter the engine two ways, neither with a hidden job:

- ``load_table`` infers a table file's schema once per session and
  file version and reads under that pinned schema afterwards (Spark's
  parquet inference is a job even for one file);
- ``local_frame`` turns driver-side rows into an Arrow table, which
  Spark plans as a ``LocalTableScan`` (no Python RDD, no Python
  worker per scan).

At 100 TB these reads are partitioned parquet scans; nothing here collects
data to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

from gcp_datalake_utils_spark.session import SessionCache, session_key

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# inferred table schemas, keyed on the session and the file's version
_SCHEMAS = SessionCache(maxsize=64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Column pruning + predicate pushdown reach
    the parquet scan because this returns the raw lazy reader output.

    The file's schema is inferred once per session and file version
    (``_SCHEMAS``, keyed on the path's mtime, size and inode: a
    rewritten file, or a dataset directory whose entries changed, is
    inferred again), and every call reads under that pinned schema, so
    only the first call pays Spark's inference job. The schema is
    memoized, not the frame: each call gets fresh attribute ids, so two
    loads of one table self-join without ambiguity.

    ``nanosAsLong`` is set here (runtime-settable) rather than only in the
    session factory so events.parquet — which carries TIMESTAMP(NANOS)
    columns Spark's reader otherwise rejects — loads under ANY host-built
    SparkSession, not just ours. The session timezone is pinned to UTC
    for the same reason: the testdata stores naive instants
    (isAdjustedToUTC=0) and every timestamp-rendering expression
    (date_format / date_trunc / session_window) would otherwise shift by
    the HOST JVM's default zone, diverging from the tz-naive oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    schema = _SCHEMAS.get_or_build(
        (session_key(spark), path, st.st_mtime_ns, st.st_size, st.st_ino),
        lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    order; ``schema`` a StructType or a DDL string).

    The rows become a ``pyarrow.Table`` typed by the schema, which
    Spark turns into a JVM ``LocalRelation`` while it stays under
    ``spark.sql.execution.arrow.localRelationThreshold``: each scan is
    a ``LocalTableScan`` on the driver, not a pickled Python RDD that
    starts a Python worker per partition. Metadata-scale frames only
    (catalog fixtures, trained codebooks, small summaries)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pydict(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)},
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def event_ts_to_micros(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a microsecond TimestampType
    regardless of how the generator wrote it. Testdata generations have
    shipped ``ts`` as TIMESTAMP(NANOS) (surfaced as long via
    ``nanosAsLong``), as TIMESTAMP_NTZ micros, and as plain TIMESTAMP —
    the adapter keys off the actual schema so all three load identically.

    For the nanos case, integer division to micros (``ts div 1000``)
    matches DuckDB's TIMESTAMP_NS -> TIMESTAMP cast exactly. A float
    divide would round-trip through double and lose ~256 ns at
    2024-epoch magnitudes (~1.7e18 > 2^53), landing 1 µs off the oracle
    on boundary values. For the NTZ case the session timezone is pinned
    to UTC (load_table), so the cast preserves the stored wall-clock."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SIZE_UNITS = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _parse_size_bytes(s: str) -> int:
    """Spark byte-size strings ('134217728b', '128m', '1g') -> bytes."""
    s = s.strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    return int(s[:i]) * _SIZE_UNITS.get(s[i:] or "b", 1)


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many partitions the frame's upstream file scan
    yields, from the input-file listing alone (driver-side metadata —
    no physical planning, no plan->RDD conversion; the old
    ``df.rdd.getNumPartitions()`` probe paid ~50-700 ms of planning
    per call and would convert a WIDE plan at scale). Mirrors Spark's
    FilePartition arithmetic: maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)),
    partitions ~= ceil(totalBytes / maxSplitBytes) with each file
    charged openCost. Frames with no file source (in-memory test
    frames) or with any non-``file:`` input (hdfs/s3/gs, whose sizes
    the Spark driver cannot stat locally) fall back to the RDD probe.

    It counts byte splits, not data-bearing splits: a file with one
    parquet row group splits into several byte ranges, but only the
    range holding the row group's midpoint reads rows. On 4 cores the
    10.8 MB sf0.1 lineitem file counts as 4 splits, so the fan-out is
    skipped while a single task does the scan."""
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files or not all(u.startswith("file:") for u in files):
        return df.rdd.getNumPartitions()
    conf = df.sparkSession.conf
    try:
        maxpb = _parse_size_bytes(
            conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        maxpb = 128 << 20
    try:
        open_cost = _parse_size_bytes(
            conf.get("spark.sql.files.openCostInBytes"))
    except Exception:
        open_cost = 4 << 20
    total = 0
    for uri in files:
        try:
            size = os.path.getsize(unquote(urlparse(uri).path))
        except OSError:
            size = 0
        total += size + open_cost
    cores = df.sparkSession.sparkContext.defaultParallelism
    max_split = min(maxpb, max(open_cost, total // max(cores, 1)))
    return max(1, -(-total // max_split))


def scaled_repartition(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive fan-out for compute-bound map stages whose
    results are partitioning-invariant (integer/decimal aggregation,
    per-row projections, min/max/count): when the upstream scan yields
    fewer partitions than the session's default parallelism — the
    single-row-group local corpus, which file splitting cannot
    subdivide — redistribute by a deterministic key so the expensive
    projection (hashing, tokenize+explode, scoring) engages every
    core. On a multi-split corpus the scan already meets the target
    and NO exchange is added, so the at-scale plan is untouched.
    Callers must only use this on operators whose declared output
    does not depend on float accumulation order (the gate: every
    consumer row is hash-checked against its DuckDB oracle).

    The partition probe reads file sizes, not the physical plan (see
    _estimated_scan_partitions); a probe failure disables the fan-out
    VISIBLY (one stderr line) instead of silently."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        cur = _estimated_scan_partitions(df)
    except Exception as e:  # noqa: BLE001
        import sys
        print(f"scaled_repartition: probe failed ({e!r}); "
              "fan-out disabled for this frame", file=sys.stderr)
        return df
    if cur < target:
        return df.repartition(target, *keys)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a microsecond TimestampType column."""
    return event_ts_to_micros(load_table(spark, sf_dir, "events"))


def register_tables(spark: SparkSession, sf_dir: str,
                    names: list[str] | None = None) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view so operators can be
    written in either DataFrame or ``spark.sql`` form."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
