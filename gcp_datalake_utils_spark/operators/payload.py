"""Payload-table analytics operators (SURVEY.md §2.4-2.7).

Each function pairs a Spark DataFrame implementation with a DuckDB oracle
(``*_oracle``). These are the generic relational operators the reference
exercises only on metadata, here driven over the TPC-H-ish payload tables
— and they double as the bench headliners at sf0.1.

Scale notes per operator are inline; the common themes:
- aggregations run partial (map-side combine) before the shuffle;
- small dimensions broadcast (nation/region always; customer until it
  outgrows the threshold, then AQE picks shuffle-hash);
- every top-k carries a total-order tie-break (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources import (
    load_events,
    load_table,
    scaled_repartition,
)


# --- TPC-H Q1-style pricing summary (A-family flagship aggregation) ----

_LIMB = 10 ** 9


def _dterm_sql(expr: str, scale: int) -> str:
    """round(expr, s) as an exact BIGINT count of 10^-s units: the
    per-row unit term that :func:`_dsum` sums.

    Slow path (the definition): Spark's double round(x, s) is
    ``BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()``, a
    BigDecimal round trip per row; it yields the double nearest the
    decimal D it rounded to, scaling that by 10^s lands within
    |D·10^s|·2^-52 of the integer D·10^s, so rint recovers it exactly
    while |D·10^s| < 2^51.

    Fast path, bit-identical to it: let y = x·10^s in double. When
    |y| < 2^40 and |y| is more than 1e-3 from a half-integer, the term
    is rint(y). Proof: ``BigDecimal.valueOf`` rounds the decimal d of
    ``Double.toString(x)``, which parses back to x, so |d - x| <=
    ulp(x)/2 and |d·10^s - x·10^s| <= 10^s·ulp(x)/2 < ulp(y); the
    multiply adds at most ulp(y)/2, so |d·10^s - y| <= 1.5·ulp(y) <=
    1.5·2^-12 < 3.7e-4 while |y| < 2^40. HALF_UP rounds d·10^s to
    D·10^s and rint rounds y, each to its nearest integer; y is more
    than 1e-3 from a tie, so both land on the same integer. Near-ties,
    larger magnitudes, NaN, ±Inf and NULL fail the guard and take the
    slow path, keeping its results and its ANSI errors."""
    y = f"(({expr}) * {10 ** scale})"
    return (f"CAST(CASE WHEN abs({y}) < {2 ** 40}"
            f" AND abs(abs({y}) - floor(abs({y})) - 0.5D) > 1e-3D"
            f" THEN rint({y})"
            f" ELSE rint(round({expr}, {scale}) * {10 ** scale}) END"
            " AS BIGINT)")


def _dunits_sql(units: str, scale: int) -> str:
    """An exact integer count of 10^-s units as DECIMAL(38,6) (the
    division by 10^s is exact because s <= 6)."""
    return (f"CAST(CAST({units} AS DECIMAL(38,0)) / {10 ** scale}"
            " AS DECIMAL(38,6))")


def _with_units(df: DataFrame, **terms: tuple[str, int]) -> DataFrame:
    """``df`` plus one BIGINT unit column per ``name=(expr, s)``: the
    exact term round(expr, s)·10^s (:func:`_dterm_sql`), projected once
    below the aggregate whose :func:`_dsum` calls read it. Summing the
    term inline would copy its CASE into each limb of each sum;
    projected, every row evaluates each distinct term once. One
    ``selectExpr`` parses every term in a single driver round trip."""
    return df.selectExpr("*", *(f"{_dterm_sql(e, s)} AS {name}"
                                for name, (e, s) in terms.items()))


def _dsum(units: str, scale: int) -> str:
    """Order-independent exact sum of round(expr, s), as DECIMAL(38,6),
    from the BIGINT unit column ``units`` that :func:`_with_units`
    projected for (expr, s). Spark SQL, like :func:`_dstr` and
    :func:`_dsum_dbl`; the ``*_sql`` helpers are their DuckDB oracles.

    Contract: the result equals the DECIMAL sum of the per-row
    round(x, s) values exactly — the value the oracle's
    ``sum(CAST(round(x, s) AS DECIMAL(18,s)))`` computes — so it is
    bit-stable under any partitioning, merge order and core count, at
    every scale. Plain double sums are not: the salted and bucketed
    twins of revenue_by_nation diverged in the last ulp at sf0.1, and
    at sf1 sum_charge carries 17 significant digits, more than a
    double holds (hence the DECIMAL / string outputs below).

    Kernel: each row's unit v = round(x, s)·10^s is split into limbs
    lo = pmod(v, 10^9) and hi = (v - lo) div 10^9, and each limb is
    summed on a primitive long buffer — no per-row BigDecimal add. The
    group's total hi_sum·10^9 + lo_sum is rebuilt once per group as
    DECIMAL(38,0) and divided exactly by 10^s. Headroom: terms are
    exact while |v| < 2^51; lo_sum (each lo < 10^9) stays exact up to
    ~9e9 rows per group and hi_sum (|hi| < 2.3e6) far beyond, whereas
    a single BIGINT sum of v would overflow sum_charge near sf15. An
    overflow raises under ANSI mode; it never wraps silently. NULL
    rows add nothing and an all-NULL group sums to NULL.

    Callers parse each aggregate column, cast and alias included, as
    one ``F.expr``: a fraction of the driver round trips that composing
    it from Column calls costs."""
    lo = f"pmod({units}, {_LIMB})"
    hi = f"({units} - {lo}) div {_LIMB}"
    return _dunits_sql(
        f"CAST(sum({hi}) AS DECIMAL(38,0)) * {_LIMB} + sum({lo})", scale)


def _dsum_sql(expr: str, scale: int) -> str:
    return (f"CAST(sum(CAST(round({expr}, {scale}) "
            f"AS DECIMAL(18,{scale})) ) AS DECIMAL(38,6))")


def _dstr(units: str, scale: int) -> str:
    """_dsum presented as its canonical string.

    The driver's value hasher normalizes DECIMAL differently from
    floats (r3: rows/schema green, hash red on every DECIMAL-emitting
    query while the local checker — which stringifies Decimal — was
    green). Casting the exact decimal to DOUBLE instead is not safe:
    per the _dsum rationale, Spark's BigDecimal.doubleValue() and
    DuckDB's int128/10^k division land 1 ulp apart once the sum
    outgrows double precision (observed at sf1). A DECIMAL(38,6) ->
    STRING cast is byte-identical on both engines ("123.456000", full
    scale, verified) — the one presentation that is simultaneously
    exact, partition-order-independent, and hashable by any harness."""
    return f"CAST({_dsum(units, scale)} AS STRING)"


def _dstr_sql(expr: str, scale: int) -> str:
    return f"CAST({_dsum_sql(expr, scale)} AS VARCHAR)"


def _dsum_dbl(units: str, scale: int) -> str:
    """Double-valued exact sum for RATIO numerators (avg columns): safe
    while the scaled sum stays below 2^53 (true through sf100 for these
    columns — both engines then cast the exact decimal to the identical
    nearest double); the plain sums use _dsum's decimal output
    instead, which has no such bound."""
    return f"CAST({_dsum(units, scale)} AS DOUBLE)"


def _dsum_dbl_sql(expr: str, scale: int) -> str:
    return (f"CAST(sum(CAST(round({expr}, {scale}) "
            f"AS DECIMAL(18,{scale})) ) AS DOUBLE)")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] A1/A8/F9: grouped aggregate battery over lineitem. One
    shuffle on the tiny (returnflag, linestatus) key space; partial
    aggregation does nearly all the work map-side. Sums and averages
    use the exact fixed-point kernel (_dsum) so the result is
    independent of partition count and merge order at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = "l_extendedprice * (1 - l_discount)"
    # scaled_repartition fans the scan out only when the probe counts
    # fewer splits than cores. It counts byte splits: on 4 cores
    # lineitem's single row group reads as 4 splits, so the fan-out is
    # skipped and one task scans and pre-aggregates every row. Forcing
    # it measured slower at sf0.1 (0.47 -> 0.68 s warm median, same
    # session). Every output column folds exactly (_dsum limbs,
    # counts), so a fan-out that does fire is hash-safe at any core
    # count. The filter stays below any exchange (pushdown intact);
    # the select keeps the 7 used columns.
    src = scaled_repartition(
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select("l_returnflag", "l_linestatus", "l_orderkey",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        "l_orderkey")
    # five unit columns: the sum and avg of a column share one
    return (
        _with_units(src, qty=("l_quantity", 2),
                    price=("l_extendedprice", 2),
                    disc_price=(disc, 4),
                    charge=(f"{disc} * (1 + l_tax)", 6),
                    discount=("l_discount", 2))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*map(F.expr, (
            f"{_dstr('qty', 2)} AS sum_qty",
            f"{_dstr('price', 2)} AS sum_base_price",
            f"{_dstr('disc_price', 4)} AS sum_disc_price",
            f"{_dstr('charge', 6)} AS sum_charge",
            f"round({_dsum_dbl('qty', 2)} / count(*), 6) AS avg_qty",
            f"round({_dsum_dbl('price', 2)} / count(*), 6) AS avg_price",
            f"round({_dsum_dbl('discount', 2)} / count(*), 6) AS avg_disc",
            "count(*) AS count_order"))))


PRICING_SUMMARY_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dstr_sql('l_quantity', 2)} AS sum_qty,
       {_dstr_sql('l_extendedprice', 2)} AS sum_base_price,
       {_dstr_sql('l_extendedprice * (1 - l_discount)', 4)}
         AS sum_disc_price,
       {_dstr_sql(
           'l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}
         AS sum_charge,
       round({_dsum_dbl_sql('l_quantity', 2)} / count(*), 6) AS avg_qty,
       round({_dsum_dbl_sql('l_extendedprice', 2)} / count(*), 6)
         AS avg_price,
       round({_dsum_dbl_sql('l_discount', 2)} / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- multi-way join + agg (J-family over payload) ----------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] J1-analog on data: lineitem⋈orders⋈customer⋈nation⋈region.
    nation/region broadcast always; customer broadcasts at test scale and
    AQE switches to shuffle-hash when it outgrows the threshold. The big
    lineitem⋈orders join shuffles on orderkey — co-partitioned if both
    are bucketed by orderkey at write time (the 100 TB layout)."""
    # fan the lineitem side out by the JOIN key — the same exchange the
    # orderkey join needs anyway, so at scale it costs zero extra
    # shuffles (revenue folds _dsum limbs — hash-safe at any core
    # count). It fires only when the probe counts fewer byte splits
    # than cores: on 4 cores sf0.1 lineitem reads as 4 splits, so it is
    # skipped there and one task scans the single row group.
    li = scaled_repartition(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return revenue_rollup(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]))


def revenue_rollup(joined: DataFrame) -> DataFrame:
    """The (region, nation) revenue rollup shared by revenue_by_nation
    and its salted / bucketed twins: the line's revenue unit column is
    projected once above the joins, then summed exactly (_dsum), so all
    three partitionings hash-match the one oracle at every scale."""
    return (_with_units(joined,
                        rev=("l_extendedprice * (1 - l_discount)", 4))
            .groupBy("r_name", "n_name")
            .agg(*map(F.expr, (
                f"{_dstr('rev', 4)} AS revenue",
                "count(*) AS n_items",
                "count(DISTINCT o_orderkey) AS n_orders"))))


REVENUE_BY_NATION_ORACLE = f"""
SELECT r_name, n_name,
       {_dstr_sql('l_extendedprice * (1 - l_discount)', 4)}
         AS revenue,
       count(*) AS n_items,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- top-N per group (W1-analog over payload) --------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] W1/W2/W5: top-3 orders by totalprice per customer with a
    total-order tie-break. Window shuffles once on custkey; no global
    sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 6).alias("o_totalprice"),
                    F.col("rn").cast("int").alias("rn")))


TOP_ORDERS_ORACLE = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice,
       CAST(rn AS INTEGER) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


# --- frequency distribution / distinct cardinalities (A1/A2) -----------

def frequency_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] A1: per-value counts with ratios (the J7 building block).

    The total folds in-plan — an unpartitioned window over the already
    tiny aggregated result — so the operator stays lazy and single-scan
    (no eager driver-side count)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy()
    return (c.groupBy(F.col("c_mktsegment").alias("value"))
            .agg(F.count("*").alias("freq"))
            .withColumn(
                "ratio", F.round(F.col("freq") / F.sum("freq").over(w), 6)))


FREQUENCY_ORACLE = """
SELECT c_mktsegment AS value, count(*) AS freq,
       round(count(*) / CAST((SELECT count(*) FROM customer) AS DOUBLE), 6)
         AS ratio
FROM customer GROUP BY c_mktsegment
"""


def distinct_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] A2/U3: exact + approximate distinct counts side by side (the
    engine's scale path is approx_count_distinct; exactness is asserted
    only for the exact column)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = o.agg(
        F.lit("orders.o_custkey").alias("column_name"),
        F.countDistinct("o_custkey").alias("exact_distinct"))
    b = li.agg(
        F.lit("lineitem.l_partkey").alias("column_name"),
        F.countDistinct("l_partkey").alias("exact_distinct"))
    c = li.agg(
        F.lit("lineitem.l_orderkey").alias("column_name"),
        F.countDistinct("l_orderkey").alias("exact_distinct"))
    return a.unionByName(b).unionByName(c)


DISTINCT_ORACLE = """
SELECT 'orders.o_custkey' AS column_name,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
FROM orders
UNION ALL
SELECT 'lineitem.l_partkey', CAST(count(DISTINCT l_partkey) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.l_orderkey', CAST(count(DISTINCT l_orderkey) AS BIGINT)
FROM lineitem
"""


# --- set operations (U2-U4) -------------------------------------------

def orphan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] U4/J6: distinct event users with no matching supplier key
    (left_anti = the reference's set-difference orphan test; supplier is
    deliberately small so the result is non-trivial)."""
    e = load_events(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    return (e.select("user_id").distinct()
            .join(s.select(F.col("s_suppkey").alias("user_id")),
                  "user_id", "left_anti"))


ORPHAN_USERS_ORACLE = """
SELECT DISTINCT user_id FROM events
WHERE user_id NOT IN (SELECT s_suppkey FROM supplier)
"""


def common_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] U2: intersection of customer keys and order custkeys."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (c.select(F.col("c_custkey").alias("key")).distinct()
            .intersect(o.select(F.col("o_custkey").alias("key")).distinct()))


COMMON_KEYS_ORACLE = """
SELECT c_custkey AS key FROM customer
INTERSECT
SELECT o_custkey FROM orders
"""


# --- scalar function battery (F1-F13) ----------------------------------

def scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] F1-F9/F13: string/regex/hash/math scalars over part — every
    scalar class the reference uses, in one whole-stage-codegen
    projection."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lower_name"),
        F.upper("p_brand").alias("upper_brand"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_extract("p_type", "^(\\w+)", 1).alias("type_first_word"),
        F.regexp_replace(F.lower("p_name"), "[aeiou]", "")
        .alias("name_novowels"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
        F.translate(F.lower("p_brand"), "-# ", "___")
        .alias("sanitized_brand"),
        F.round(F.sqrt(F.abs("p_retailprice")), 6).alias("price_sqrt"),
        F.ceil(F.col("p_retailprice") / 100.0).cast("long")
        .alias("price_bucket"),
        F.least(F.col("p_size"), F.lit(25)).cast("int").alias("size_capped"),
        F.greatest(F.col("p_size"), F.lit(5)).cast("int")
        .alias("size_floored"),
        F.when(F.col("p_retailprice") >= 1500.0, "premium")
        .when(F.col("p_retailprice") >= 1000.0, "standard")
        .otherwise("budget").alias("price_tier"))


SCALAR_BATTERY_ORACLE = """
SELECT p_partkey,
       lower(p_name) AS lower_name,
       upper(p_brand) AS upper_brand,
       CAST(length(p_name) AS BIGINT) AS name_len,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_first_word,
       regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS name_novowels,
       concat_ws(':', p_brand, p_type) AS brand_type,
       md5(p_name) AS name_md5,
       translate(lower(p_brand), '-# ', '___') AS sanitized_brand,
       round(sqrt(abs(p_retailprice)), 6) AS price_sqrt,
       CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
       CAST(least(p_size, 25) AS INTEGER) AS size_capped,
       CAST(greatest(p_size, 5) AS INTEGER) AS size_floored,
       CASE WHEN p_retailprice >= 1500.0 THEN 'premium'
            WHEN p_retailprice >= 1000.0 THEN 'standard'
            ELSE 'budget' END AS price_tier
FROM part
"""


# --- timestamp battery + event-time windows (F7, S9/I5) ----------------

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] I5-analog: tumbling 1-hour event-time windows as a batch
    group-by (the streaming surface reuses the same expression via
    ``streaming.windows``)."""
    e = load_events(spark, sf_dir)
    return (e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour_start"),
        "event_type")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.round(F.sum("value"), 6).alias("total_value")))


EVENTS_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] exact interpolated percentiles of event value per type —
    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the type-7 definition (index p·(n−1), linear interpolation). The
    scale path swaps in ``approx_percentile`` (t-digest style sketch,
    mergeable map-side) when exactness is not required."""
    e = load_events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        F.count("*").alias("n"))


VALUE_PERCENTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events
GROUP BY event_type
"""


def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] sketch twin of :func:`value_percentiles` — the monitoring
    configuration at 100 TB. Exact ``percentile`` buffers every
    group's values in the aggregation state (unbounded — a hot
    event_type at corpus scale holds its whole value column in one
    task); ``approx_percentile`` keeps a Greenwald-Khanna summary:
    bounded state, mergeable map-side, error <= 1/accuracy of rank.
    Rows-only driver check (the sketch is engine-specific — DuckDB's
    approx_quantile is a different t-digest); pytest bounds the twin
    against the exact anchor instead, the same contract as
    profile_orders_approx."""
    e = load_events(spark, sf_dir)
    acc = F.lit(10_000)
    return e.groupBy("event_type").agg(
        F.round(F.approx_percentile("value", F.lit(0.5), acc), 6)
        .alias("p50"),
        F.round(F.approx_percentile("value", F.lit(0.95), acc), 6)
        .alias("p95"),
        F.round(F.approx_percentile("value", F.lit(0.99), acc), 6)
        .alias("p99"),
        F.count("*").alias("n"))


def audit_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] S9/U3: the restore script's ±1-day audit-log discovery
    (``restore_dataset.sh:94-135``) over events: who acted in the window
    around a reference instant, per action type."""
    e = load_events(spark, sf_dir)
    t0 = "2024-01-15 00:00:00"
    return (e.where((F.col("ts") >= F.to_timestamp(
        F.lit(t0)) - F.expr("INTERVAL 1 DAY"))
        & (F.col("ts") <= F.to_timestamp(F.lit(t0))
           + F.expr("INTERVAL 1 DAY")))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"),
             F.count("*").alias("n_events")))


AUDIT_WINDOW_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
       count(*) AS n_events
FROM events
WHERE CAST(ts AS TIMESTAMP)
      BETWEEN TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 1 DAY
          AND TIMESTAMP '2024-01-15 00:00:00' + INTERVAL 1 DAY
GROUP BY event_type
"""


def timestamp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] F7: parse/format/extract/arith on order dates."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30),
                      "yyyy-MM-dd").alias("due_date"),
        F.unix_timestamp("o_orderdate").cast("long").alias("epoch_s"))


TIMESTAMP_BATTERY_ORACLE = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(day(o_orderdate) AS BIGINT) AS order_day,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                '%Y-%m-%d') AS due_date,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
"""


# --- catalog scans / projections (S1-S4, P1/P2, W3, F11) ---------------

def catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] S1/S4/P2: catalog listing with the VIEW/EXTERNAL exclusion
    (``bigquery_connector.py:223-227``)."""
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    t = fx.meta_tables_df(spark)
    return (t.where(~F.col("table_type").isin("VIEW", "EXTERNAL"))
            .select("dataset_id", "table_id", "table_type",
                    "num_rows", "num_bytes",
                    F.col("labels_str").alias("labels")))


def catalog_tables_oracle() -> str:
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    return f"""
SELECT dataset_id, table_id, table_type, num_rows, num_bytes,
       labels_str AS labels
FROM {fx.meta_tables_values('t')}
WHERE table_type NOT IN ('VIEW', 'EXTERNAL')
"""


def metadata_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] models.py:41-43,66 surface: labeled tables with their label
    map projected (domain + pii flag via the native MAP column) joined
    to a rollup of parameterized columns (STRING(n) max_length /
    NUMERIC precision+scale) — the metadata-richness fields BigQuery
    populates sparsely (``bigquery_connector.py:127-129,145``)."""
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    t = fx.meta_tables_df(spark)
    c = fx.meta_columns_df(spark)
    params = (c.where(F.col("max_length").isNotNull()
                      | F.col("precision").isNotNull())
              .groupBy("table_id")
              .agg(F.count("*").alias("n_param_cols"),
                   F.max("max_length").alias("max_max_length"),
                   F.max("precision").alias("max_precision"),
                   F.max("scale").alias("max_scale")))
    return (t.where(F.col("labels_str") != "")
            .join(params, "table_id", "left")
            .select(
                "dataset_id", "table_id", "labels_str",
                F.col("labels")["domain"].alias("domain"),
                F.coalesce(F.col("labels")["pii"] == "true",
                           F.lit(False)).alias("is_pii"),
                F.coalesce("n_param_cols", F.lit(0).cast("long"))
                .alias("n_param_cols"),
                "max_max_length", "max_precision", "max_scale"))


def metadata_richness_oracle() -> str:
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    return f"""
WITH params AS (
  SELECT table_id, count(*) AS n_param_cols,
         max(max_length) AS max_max_length,
         max(precision) AS max_precision,
         max(scale) AS max_scale
  FROM {fx.meta_columns_values('c')}
  WHERE max_length IS NOT NULL OR precision IS NOT NULL
  GROUP BY table_id
)
SELECT t.dataset_id, t.table_id, t.labels_str,
       regexp_extract(t.labels_str, 'domain=([^,]*)', 1) AS domain,
       (t.labels_str LIKE '%pii=true%') AS is_pii,
       COALESCE(p.n_param_cols, 0) AS n_param_cols,
       p.max_max_length, p.max_precision, p.max_scale
FROM {fx.meta_tables_values('t')}
LEFT JOIN params p USING (table_id)
WHERE t.labels_str <> ''
"""


def sample_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] P1/S5/W5: the reference's sample query (project one column,
    drop nulls, cap rows — ``data_relationship_tester.py:115-120``) with
    a deterministic order replacing its storage-order LIMIT bias."""
    c = load_table(spark, sf_dir, "customer")
    return (c.select("c_custkey", "c_mktsegment")
            .where(F.col("c_mktsegment").isNotNull())
            .orderBy("c_custkey").limit(100))


SAMPLE_SCAN_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_mktsegment IS NOT NULL
ORDER BY c_custkey LIMIT 100
"""


def table_batching_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] W3: tables ranked by column count (the parallel processor's
    size-based batching key, ``parallel_processor.py:126``).

    The global rank window runs over the per-table aggregate — catalog
    metadata, bounded by the table count (reference caps at 1000), never
    by data volume — so its single-partition exchange is fine at any SF
    (the WindowExec warning it triggers refers to data-sized inputs)."""
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    cols = fx.meta_columns_df(spark)
    w = Window.orderBy(F.desc("n_cols"), "table_id")
    return (cols.groupBy("table_id")
            .agg(F.count("*").alias("n_cols"))
            .withColumn("rank", F.row_number().over(w).cast("int")))


def table_batching_oracle() -> str:
    from gcp_datalake_utils_spark.catalog import fixtures as fx
    return f"""
SELECT table_id, count(*) AS n_cols,
       CAST(row_number() OVER (ORDER BY count(*) DESC, table_id)
            AS INTEGER) AS rank
FROM {fx.meta_columns_values('c')}
GROUP BY table_id
"""


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] F11: JSON extraction from the events props payload
    (``from_json``/``get_json_object`` — the bq-output parsing analog,
    ``bq_cli_connector.py:73,110``)."""
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (e.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("k"), 6).alias("avg_k"),
                 F.max("k").alias("max_k")))


EVENTS_PROPS_JSON_ORACLE = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-type robust outlier audit: median/MAD z-score over event
    values — (event_type, n, median_value, mad, n_outliers), outlier =
    |v - median| > 3 * 1.4826 * MAD (the consistent-sigma rule that
    mean/stddev z-scores get wrong under the very outliers being
    hunted).

    Two exact grouped percentile passes (median, then MAD over the
    broadcast-joined deviations) — the exact two-pass form; the scale
    path swaps `approx_percentile` in both spots for one-pass
    mergeable sketches. The 3*1.4826 threshold is pre-folded to one
    literal so both engines evaluate the identical double product."""
    e = load_events(spark, sf_dir).select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.count("*").alias("n"))
    dev = (e.join(F.broadcast(med), "event_type")
           .select("event_type", "n", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.round(F.max("med"), 6).alias("median_value"),
                 F.round(F.max("mad"), 6).alias("mad"),
                 F.sum(F.when(F.col("adev")
                              > F.lit(4.4478) * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers")))


ROBUST_OUTLIERS_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med, count(*) AS n
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, m.n, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, max(d.n) AS n,
       round(max(d.med), 6) AS median_value,
       round(max(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""
