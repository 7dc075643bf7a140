"""Schema-as-data: the metadata catalog as literal row fixtures.

The reference materializes table metadata as driver-side pydantic objects
(``models.py:33-103`` in /root/reference/bigquery-to-erd); this engine makes
metadata *data*: a ``meta_tables`` and an exploded ``meta_columns``
DataFrame, so every "loop over tables/columns" becomes a DataFrame
transform (SURVEY.md §1.3).

The same constants feed two consumers:

- ``*_df(spark)``  -> Spark DataFrames (engine input)
- ``*_values()``   -> DuckDB ``(VALUES ...) AS t(...)`` fragments (oracle
  input), so both engines compute over byte-identical rows by construction.

Fixture contents per FIXTURES.md: (a) the real payload-table schemas with
BigQuery type names, (b) the synthetic Data-Vault / classic-naming
warehouse schemas taken from the reference's own test fixtures
(``test_config.py:22-29``, ``test_enhanced_features.py:123-142``), (c)
custom relationship rules mirroring ``examples/relationship_rules.json``.

Every row carries an explicit ``ordinal`` / ``table_ord`` — the engine's
deterministic replacement for the reference's implicit Python list/dict
ordering (FIXTURES.md §4 determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gcp_datalake_utils_spark.sources import local_frame

# ---------------------------------------------------------------------------
# meta_tables: (dataset_id, table_id, table_ord, table_type, num_rows,
#               num_bytes)
# table_ord is the canonical global table order (used wherever the
# reference depended on dict-insertion order, e.g. enhanced strategy 3).
# ---------------------------------------------------------------------------

META_TABLES: list[tuple[str, str, int, str, int, int]] = [
    # payload dataset (mirrors /root/testdata parquet schemas)
    ("tpch", "region", 1, "TABLE", 5, 1024),
    ("tpch", "nation", 2, "TABLE", 25, 4096),
    ("tpch", "customer", 3, "TABLE", 1500, 262144),
    ("tpch", "supplier", 4, "TABLE", 100, 32768),
    ("tpch", "part", 5, "TABLE", 2000, 524288),
    ("tpch", "orders", 6, "TABLE", 15000, 4194304),
    ("tpch", "lineitem", 7, "TABLE", 60000, 16777216),
    ("tpch", "events", 8, "TABLE", 10000, 2097152),
    ("tpch", "documents", 9, "TABLE", 5000, 8388608),
    ("tpch", "embeddings", 10, "TABLE", 5000, 4194304),
    ("tpch", "v_order_summary", 11, "VIEW", 0, 0),
    ("tpch", "ext_events_raw", 12, "EXTERNAL", 0, 0),
    # Data Vault warehouse (reference test fixtures)
    ("warehouse", "h_customer", 13, "TABLE", 1000, 65536),
    ("warehouse", "h_adam", 14, "TABLE", 1000, 65536),
    ("warehouse", "h_ishuv", 15, "TABLE", 200, 16384),
    ("warehouse", "dim_customer", 16, "TABLE", 1000, 131072),
    ("warehouse", "dim_ishuv", 17, "TABLE", 200, 32768),
    ("warehouse", "l_adam_misgeret", 18, "TABLE", 5000, 262144),
    ("warehouse", "l_order", 19, "TABLE", 8000, 393216),
    ("warehouse", "ref_code_status", 20, "TABLE", 50, 4096),
    ("warehouse", "fact_sales", 21, "TABLE", 20000, 2097152),
    ("warehouse", "bridge_customer_group", 22, "TABLE", 3000, 131072),
    # classic-naming set (pluralization path)
    ("appdb", "users", 23, "TABLE", 500, 32768),
    ("appdb", "orders2", 24, "TABLE", 4000, 262144),
    ("appdb", "customers", 25, "TABLE", 600, 40960),
    ("appdb", "order_items", 26, "TABLE", 12000, 786432),
    ("appdb", "products", 27, "TABLE", 300, 65536),
    # telemetry set: FLOAT64 *_id/*_key columns are NOT PK candidates
    # (key types exclude FLOAT, schema_analyzer.py:185) — exercises the
    # J3 data-type-match path with same-name pairs.
    ("metrics", "telemetry", 28, "TABLE", 100000, 8388608),
    ("metrics", "telemetry_daily", 29, "TABLE", 3000, 262144),
    ("metrics", "telemetry_raw", 30, "TABLE", 500000, 33554432),
]

# ---------------------------------------------------------------------------
# meta_columns: (table_id, ordinal, name, data_type, mode)
# data_type uses BigQuery names (SURVEY.md §1.2 mapping).
# ---------------------------------------------------------------------------

META_COLUMNS: list[tuple[str, int, str, str, str]] = [
    # --- payload tables ---
    ("region", 1, "r_regionkey", "INTEGER", "REQUIRED"),
    ("region", 2, "r_name", "STRING", "NULLABLE"),
    ("nation", 1, "n_nationkey", "INTEGER", "REQUIRED"),
    ("nation", 2, "n_name", "STRING", "NULLABLE"),
    ("nation", 3, "n_regionkey", "INTEGER", "REQUIRED"),
    ("customer", 1, "c_custkey", "INT64", "REQUIRED"),
    ("customer", 2, "c_name", "STRING", "NULLABLE"),
    ("customer", 3, "c_nationkey", "INTEGER", "REQUIRED"),
    ("customer", 4, "c_acctbal", "FLOAT64", "NULLABLE"),
    ("customer", 5, "c_mktsegment", "STRING", "NULLABLE"),
    ("supplier", 1, "s_suppkey", "INT64", "REQUIRED"),
    ("supplier", 2, "s_name", "STRING", "NULLABLE"),
    ("supplier", 3, "s_nationkey", "INTEGER", "REQUIRED"),
    ("supplier", 4, "s_acctbal", "FLOAT64", "NULLABLE"),
    ("part", 1, "p_partkey", "INT64", "REQUIRED"),
    ("part", 2, "p_name", "STRING", "NULLABLE"),
    ("part", 3, "p_brand", "STRING", "NULLABLE"),
    ("part", 4, "p_type", "STRING", "NULLABLE"),
    ("part", 5, "p_size", "INTEGER", "NULLABLE"),
    ("part", 6, "p_retailprice", "FLOAT64", "NULLABLE"),
    ("orders", 1, "o_orderkey", "INT64", "REQUIRED"),
    ("orders", 2, "o_custkey", "INT64", "REQUIRED"),
    ("orders", 3, "o_orderstatus", "STRING", "NULLABLE"),
    ("orders", 4, "o_totalprice", "FLOAT64", "NULLABLE"),
    ("orders", 5, "o_orderdate", "TIMESTAMP", "NULLABLE"),
    ("orders", 6, "o_orderpriority", "STRING", "NULLABLE"),
    ("lineitem", 1, "l_orderkey", "INT64", "REQUIRED"),
    ("lineitem", 2, "l_partkey", "INT64", "REQUIRED"),
    ("lineitem", 3, "l_suppkey", "INT64", "REQUIRED"),
    ("lineitem", 4, "l_linenumber", "INTEGER", "REQUIRED"),
    ("lineitem", 5, "l_quantity", "FLOAT64", "NULLABLE"),
    ("lineitem", 6, "l_extendedprice", "FLOAT64", "NULLABLE"),
    ("lineitem", 7, "l_discount", "FLOAT64", "NULLABLE"),
    ("lineitem", 8, "l_tax", "FLOAT64", "NULLABLE"),
    ("lineitem", 9, "l_returnflag", "STRING", "NULLABLE"),
    ("lineitem", 10, "l_linestatus", "STRING", "NULLABLE"),
    ("lineitem", 11, "l_shipdate", "TIMESTAMP", "NULLABLE"),
    ("events", 1, "event_id", "INT64", "REQUIRED"),
    ("events", 2, "ts", "TIMESTAMP", "REQUIRED"),
    ("events", 3, "user_id", "INT64", "REQUIRED"),
    ("events", 4, "event_type", "STRING", "NULLABLE"),
    ("events", 5, "value", "FLOAT64", "NULLABLE"),
    ("events", 6, "props", "STRING", "NULLABLE"),
    ("documents", 1, "doc_id", "INT64", "REQUIRED"),
    ("documents", 2, "text", "STRING", "NULLABLE"),
    ("documents", 3, "lang", "STRING", "NULLABLE"),
    ("documents", 4, "source", "STRING", "NULLABLE"),
    ("documents", 5, "n_chars", "INT64", "NULLABLE"),
    ("embeddings", 1, "vec_id", "INT64", "REQUIRED"),
    ("embeddings", 2, "embedding", "FLOAT64", "REPEATED"),
    ("embeddings", 3, "label", "INTEGER", "NULLABLE"),
    ("v_order_summary", 1, "o_orderkey", "INT64", "NULLABLE"),
    ("v_order_summary", 2, "total", "FLOAT64", "NULLABLE"),
    ("ext_events_raw", 1, "raw", "STRING", "NULLABLE"),
    # --- Data Vault set (FIXTURES.md §3.1) ---
    ("h_customer", 1, "id", "STRING", "REQUIRED"),
    ("h_customer", 2, "business_key", "STRING", "REQUIRED"),
    ("h_customer", 3, "hash_key", "STRING", "REQUIRED"),
    ("h_customer", 4, "load_ts", "TIMESTAMP", "REQUIRED"),
    ("h_adam", 1, "id", "INT64", "REQUIRED"),
    ("h_adam", 2, "hash_key", "STRING", "REQUIRED"),
    ("h_adam", 3, "hk", "STRING", "NULLABLE"),
    ("h_ishuv", 1, "id", "INT64", "REQUIRED"),
    ("h_ishuv", 2, "ishuv_code", "STRING", "REQUIRED"),
    ("dim_customer", 1, "customer_id", "STRING", "REQUIRED"),
    ("dim_customer", 2, "name", "STRING", "NULLABLE"),
    ("dim_customer", 3, "customer_hk", "STRING", "NULLABLE"),
    ("dim_ishuv", 1, "dim_key", "INT64", "REQUIRED"),
    ("dim_ishuv", 2, "adam_id", "INT64", "REQUIRED"),
    ("dim_ishuv", 3, "ishuv_name", "STRING", "NULLABLE"),
    ("l_adam_misgeret", 1, "link_key", "STRING", "REQUIRED"),
    ("l_adam_misgeret", 2, "adam_hk", "STRING", "REQUIRED"),
    ("l_adam_misgeret", 3, "misgeret_hk", "STRING", "REQUIRED"),
    ("l_order", 1, "link_key", "STRING", "REQUIRED"),
    ("l_order", 2, "customer_hk", "STRING", "REQUIRED"),
    ("l_order", 3, "order_hk", "STRING", "REQUIRED"),
    ("ref_code_status", 1, "ref_key", "INT64", "REQUIRED"),
    ("ref_code_status", 2, "status_code", "STRING", "REQUIRED"),
    ("ref_code_status", 3, "description", "STRING", "NULLABLE"),
    ("fact_sales", 1, "id", "INT64", "REQUIRED"),
    ("fact_sales", 2, "customer_id", "STRING", "REQUIRED"),
    ("fact_sales", 3, "amount", "NUMERIC", "NULLABLE"),
    ("fact_sales", 4, "sale_date", "DATE", "REQUIRED"),
    ("bridge_customer_group", 1, "relationship_id", "INT64", "REQUIRED"),
    ("bridge_customer_group", 2, "customer_id", "STRING", "REQUIRED"),
    ("bridge_customer_group", 3, "group_id", "INT64", "REQUIRED"),
    # --- classic-naming set (FIXTURES.md §3.2) ---
    ("users", 1, "id", "INT64", "REQUIRED"),
    ("users", 2, "name", "STRING", "NULLABLE"),
    ("users", 3, "email", "STRING", "NULLABLE"),
    ("users", 4, "created_at", "TIMESTAMP", "REQUIRED"),
    ("orders2", 1, "id", "INT64", "REQUIRED"),
    ("orders2", 2, "user_id", "INT64", "REQUIRED"),
    ("orders2", 3, "amount", "NUMERIC", "NULLABLE"),
    ("orders2", 4, "order_date", "TIMESTAMP", "REQUIRED"),
    ("customers", 1, "id", "INT64", "REQUIRED"),
    ("customers", 2, "name", "STRING", "NULLABLE"),
    ("order_items", 1, "id", "INT64", "REQUIRED"),
    ("order_items", 2, "order_id", "INT64", "REQUIRED"),
    ("order_items", 3, "product_id", "INT64", "REQUIRED"),
    ("order_items", 4, "qty", "INT64", "REQUIRED"),
    ("products", 1, "id", "INT64", "REQUIRED"),
    ("products", 2, "sku", "STRING", "REQUIRED"),
    ("products", 3, "price", "NUMERIC", "NULLABLE"),
    ("products", 4, "tags", "STRING", "REPEATED"),
    # --- telemetry set (J3 path) ---
    ("telemetry", 1, "metric_id", "FLOAT64", "REQUIRED"),
    ("telemetry", 2, "reading_key", "FLOAT64", "REQUIRED"),
    ("telemetry", 3, "val", "FLOAT64", "NULLABLE"),
    ("telemetry_daily", 1, "metric_id", "FLOAT64", "NULLABLE"),
    ("telemetry_daily", 2, "day_total", "FLOAT64", "NULLABLE"),
    ("telemetry_raw", 1, "reading_key", "FLOAT64", "NULLABLE"),
    ("telemetry_raw", 2, "raw_val", "FLOAT64", "NULLABLE"),
]

# ---------------------------------------------------------------------------
# column type parameters + table labels (models.py:41-43,66; populated from
# live metadata at bigquery_connector.py:127-129,145). BigQuery reports
# max_length only for parameterized STRING(n) and precision/scale for
# NUMERIC/BIGNUMERIC — the fixture mirrors that sparsity: a handful of
# parameterized strings, NUMERIC at BigQuery's default (38, 9), NULL
# elsewhere. Labels are a per-table MAP<STRING,STRING>; the canonical
# serialized form (sorted "k=v" joined by ",") is what oracles compare,
# since map ordering is engine-dependent.
# ---------------------------------------------------------------------------

MAX_LENGTHS: dict[tuple[str, str], int] = {
    ("customer", "c_name"): 25,
    ("customer", "c_mktsegment"): 10,
    ("supplier", "s_name"): 25,
    ("part", "p_brand"): 10,
    ("orders", "o_orderpriority"): 15,
    ("lineitem", "l_returnflag"): 1,
    ("lineitem", "l_linestatus"): 1,
    ("h_customer", "business_key"): 64,
    ("products", "sku"): 32,
    ("ref_code_status", "status_code"): 8,
}


def _type_params(table_id: str, name: str,
                 data_type: str) -> tuple[int | None, int | None, int | None]:
    if data_type == "NUMERIC":
        return (None, 38, 9)
    return (MAX_LENGTHS.get((table_id, name)), None, None)


# (table_id, ordinal, name, data_type, mode, max_length, precision, scale)
META_COLUMNS_EXT: list[tuple] = [
    (tb, o, n, t, m, *_type_params(tb, n, t))
    for (tb, o, n, t, m) in META_COLUMNS]

TABLE_LABELS: dict[str, dict[str, str]] = {
    "customer": {"domain": "sales", "pii": "true"},
    "orders": {"domain": "sales"},
    "lineitem": {"domain": "sales"},
    "events": {"domain": "telemetry", "retention": "90d"},
    "documents": {"domain": "corpus"},
    "embeddings": {"domain": "corpus"},
    "fact_sales": {"domain": "warehouse"},
}


def _labels_str(table_id: str) -> str:
    return ",".join(f"{k}={v}" for k, v
                    in sorted(TABLE_LABELS.get(table_id, {}).items()))


# META_TABLES + labels_str (canonical sorted serialization; '' = no labels)
META_TABLES_EXT: list[tuple] = [
    (*row, _labels_str(row[1])) for row in META_TABLES]


# ---------------------------------------------------------------------------
# custom relationship rules (J5) — explicit 4-endpoint rules. The last row
# references a non-existent table and must be dropped by the existence
# check (mirrors `_apply_custom_rules` table_map guard,
# relationship_detector.py:503-505).
# ---------------------------------------------------------------------------

CUSTOM_RULES: list[tuple[str, str, str, str, str, float]] = [
    ("orders", "o_custkey", "customer", "c_custkey", "many_to_one", 0.95),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", "many_to_one", 0.95),
    ("lineitem", "l_partkey", "part", "p_partkey", "many_to_one", 0.9),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", "many_to_one", 0.9),
    ("customer", "c_nationkey", "nation", "n_nationkey", "many_to_one", 0.9),
    ("supplier", "s_nationkey", "nation", "n_nationkey", "many_to_one", 0.9),
    ("nation", "n_regionkey", "region", "r_regionkey", "many_to_one", 0.9),
    ("fact_sales", "customer_id", "dim_customer", "customer_id",
     "many_to_one", 0.95),
    ("ghost_table", "x_id", "customer", "c_custkey", "many_to_one", 0.9),
]

# naming-pattern rules: (pattern, target_suffix, confidence) — a column
# matching `pattern` (group 1 = base) points at table `base + suffix`
# (mirrors `_apply_naming_pattern`, relationship_detector.py:677-717).
NAMING_PATTERNS: list[tuple[str, str, float]] = [
    ("^(.+)_id$", "s", 0.85),
]

# ---------------------------------------------------------------------------
# incremental-processing state (I1/I3): per-table schema checksum +
# last_processed. Checksums are computed from META_COLUMNS with the same
# formula both engines use (md5 over table_id:dataset_id:sorted column
# descriptors, mirroring incremental_processor.py:79-100; the reference
# also hashes the derived PK/FK flags — deterministic functions of the
# descriptors, so the engine hashes only (name, data_type, mode),
# documented divergence). 'nation' gets a deliberately stale checksum,
# 'orders'/'lineitem' are absent (-> new), 'dropped_table' exists only in
# state (ignored, as in the reference).
# ---------------------------------------------------------------------------


def _checksum(table_id: str, dataset_id: str) -> str:
    import hashlib
    descs = sorted(f"{n}:{t}:{m}" for tb, _o, n, t, m in META_COLUMNS
                   if tb == table_id)
    s = f"{table_id}:{dataset_id}:" + "|".join(descs)
    return hashlib.md5(s.encode()).hexdigest()


def proc_state_rows() -> list[tuple[str, str, str]]:
    rows = []
    for ds, tb, _ord, _ty, _nr, _nb in META_TABLES:
        if tb in ("orders", "lineitem"):
            continue  # absent from state -> 'new'
        ck = _checksum(tb, ds)
        if tb == "nation":
            ck = "0" * 32  # stale -> 'changed'
        ts = "2024-06-01 12:00:00" if tb in ("region", "nation") \
            else "2024-06-03 08:30:00"
        rows.append((tb, ck, ts))
    rows.append(("dropped_table", "f" * 32, "2024-01-01 00:00:00"))
    return rows


PROC_STATE: list[tuple[str, str, str]] = proc_state_rows()

# ---------------------------------------------------------------------------
# relationship cache (I4/J9): entries keyed by the sorted table pair
# (relationship_cache.py:30-34), with cached_at timestamps straddling the
# 24h TTL relative to CACHE_AS_OF (two fresh, two expired, one for a
# pair no detector produces).
# ---------------------------------------------------------------------------

CACHE_AS_OF = "2024-06-02 12:00:00"

REL_CACHE: list[tuple[str, str, str, str, str, str, float, str]] = [
    ("customer_orders", "orders", "o_custkey", "customer", "c_custkey",
     "many_to_one", 0.95, "2024-06-02 01:00:00"),    # fresh
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey",
     "many_to_one", 0.95, "2024-06-01 20:00:00"),    # fresh
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey",
     "many_to_one", 0.9, "2024-05-30 09:00:00"),     # expired
    ("customer_nation", "customer", "c_nationkey", "nation",
     "n_nationkey", "many_to_one", 0.9, "2024-05-01 00:00:00"),  # expired
    ("aaa_zzz", "aaa", "x", "zzz", "y",
     "many_to_one", 0.5, "2024-06-02 11:00:00"),     # fresh, unmatched
]

# ---------------------------------------------------------------------------
# emitters
# ---------------------------------------------------------------------------


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows: list[tuple], alias: str, cols: list[str],
            casts: dict[str, str] | None = None) -> str:
    """Render rows as a DuckDB ``(VALUES ...) alias(cols)`` fragment.

    ``casts`` maps column name -> SQL type; applied inside a wrapping
    SELECT so both engines agree on result types (e.g. DOUBLE not
    DECIMAL for confidence literals).
    """
    body = ",\n    ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows)
    inner = f"(VALUES\n    {body}\n) AS _{alias}({', '.join(cols)})"
    casts = casts or {}
    proj = ", ".join(
        f"CAST({c} AS {casts[c]}) AS {c}" if c in casts else c for c in cols)
    return f"(SELECT {proj} FROM {inner}) AS {alias}"


def meta_tables_values(alias: str = "meta_tables") -> str:
    return _values(
        META_TABLES_EXT, alias,
        ["dataset_id", "table_id", "table_ord", "table_type", "num_rows",
         "num_bytes", "labels_str"],
        {"table_ord": "INTEGER", "num_rows": "BIGINT", "num_bytes": "BIGINT"})


def meta_columns_values(alias: str = "meta_columns") -> str:
    return _values(
        META_COLUMNS_EXT, alias,
        ["table_id", "ordinal", "name", "data_type", "mode",
         "max_length", "precision", "scale"],
        {"ordinal": "INTEGER", "max_length": "INTEGER",
         "precision": "INTEGER", "scale": "INTEGER"})


def custom_rules_values(alias: str = "custom_rules") -> str:
    return _values(
        CUSTOM_RULES, alias,
        ["source_table", "source_column", "target_table", "target_column",
         "relationship_type", "confidence"],
        {"confidence": "DOUBLE"})


def naming_patterns_values(alias: str = "naming_patterns") -> str:
    return _values(
        NAMING_PATTERNS, alias,
        ["pattern", "target_suffix", "confidence"],
        {"confidence": "DOUBLE"})


def proc_state_values(alias: str = "proc_state") -> str:
    return _values(
        PROC_STATE, alias,
        ["table_id", "checksum", "last_processed"],
        {"last_processed": "TIMESTAMP"})


def rel_cache_values(alias: str = "rel_cache") -> str:
    return _values(
        REL_CACHE, alias,
        ["pair_key", "source_table", "source_column", "target_table",
         "target_column", "relationship_type", "confidence", "cached_at"],
        {"confidence": "DOUBLE", "cached_at": "TIMESTAMP"})


_TABLES_SCHEMA = T.StructType([
    T.StructField("dataset_id", T.StringType(), False),
    T.StructField("table_id", T.StringType(), False),
    T.StructField("table_ord", T.IntegerType(), False),
    T.StructField("table_type", T.StringType(), False),
    T.StructField("num_rows", T.LongType(), False),
    T.StructField("num_bytes", T.LongType(), False),
    T.StructField("labels_str", T.StringType(), False),
])

_COLUMNS_SCHEMA = T.StructType([
    T.StructField("table_id", T.StringType(), False),
    T.StructField("ordinal", T.IntegerType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("data_type", T.StringType(), False),
    T.StructField("mode", T.StringType(), False),
    T.StructField("max_length", T.IntegerType(), True),
    T.StructField("precision", T.IntegerType(), True),
    T.StructField("scale", T.IntegerType(), True),
])

_RULES_SCHEMA = T.StructType([
    T.StructField("source_table", T.StringType(), False),
    T.StructField("source_column", T.StringType(), False),
    T.StructField("target_table", T.StringType(), False),
    T.StructField("target_column", T.StringType(), False),
    T.StructField("relationship_type", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
])

_PATTERNS_SCHEMA = T.StructType([
    T.StructField("pattern", T.StringType(), False),
    T.StructField("target_suffix", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
])


def meta_tables_df(spark: SparkSession) -> DataFrame:
    """meta_tables with both the canonical ``labels_str`` and a native
    ``labels`` MAP<STRING,STRING> column (models.py:66)."""
    from pyspark.sql import functions as F
    return (local_frame(spark, META_TABLES_EXT, _TABLES_SCHEMA)
            .withColumn(
                "labels",
                F.when(F.col("labels_str") == "",
                       F.expr("cast(map() as map<string,string>)"))
                .otherwise(F.expr("str_to_map(labels_str, ',', '=')"))))


def meta_columns_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, META_COLUMNS_EXT, _COLUMNS_SCHEMA)


def custom_rules_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, CUSTOM_RULES, _RULES_SCHEMA)


def naming_patterns_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, NAMING_PATTERNS, _PATTERNS_SCHEMA)


_STATE_SCHEMA = T.StructType([
    T.StructField("table_id", T.StringType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("last_processed", T.StringType(), False),
])


def proc_state_df(spark: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F
    return (local_frame(spark, PROC_STATE, _STATE_SCHEMA)
            .withColumn("last_processed", F.to_timestamp("last_processed")))


_CACHE_SCHEMA = T.StructType([
    T.StructField("pair_key", T.StringType(), False),
    T.StructField("source_table", T.StringType(), False),
    T.StructField("source_column", T.StringType(), False),
    T.StructField("target_table", T.StringType(), False),
    T.StructField("target_column", T.StringType(), False),
    T.StructField("relationship_type", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("cached_at", T.StringType(), False),
])


def rel_cache_df(spark: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F
    return (local_frame(spark, REL_CACHE, _CACHE_SCHEMA)
            .withColumn("cached_at", F.to_timestamp("cached_at")))
