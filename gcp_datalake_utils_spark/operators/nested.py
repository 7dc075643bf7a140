"""Nested ARRAY<STRUCT> compute — first-class, not just key exclusion.

The reference touches REPEATED columns only as a classification
exclusion predicate (reference: schema_analyzer.py:178-179 skips
REPEATED fields when picking key candidates); SURVEY §1.2 promises
out-doing it with real nested compute. This operator materializes the
nested layout a 100 TB lakehouse actually stores — orders with an
embedded, line-number-ordered ARRAY<STRUCT> of their line items — and
computes per-order analytics entirely with higher-order functions
(``aggregate`` / ``transform`` / ``filter`` / ``exists``) over the
struct array: no explode, no second shuffle, no per-line row blowup.

Scale notes:
- the nesting groupBy has BOUNDED agg state (TPC-H orders carry <= 7
  lines; generally lines-per-order, not corpus-sized);
- it reads lineitem from the orderkey store (bucketed and sorted by
  orderkey), so the groupBy is bucket-local and the query has no
  Exchange at all; everything after it is a narrow whole-stage codegen
  projection — the nested column never shuffles;
- when the table is ALREADY stored nested (the target layout), the
  groupBy disappears entirely;
- the revenue fold runs in array order (line number) on both engines —
  ordered float folds are the repo's cross-engine determinism rule for
  non-decimal sums (see payload._dsum rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources.bucketing import orderkey_store

HEAVY_QTY = 40.0
DEEP_DISCOUNT = 0.05


def order_lines_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-order analytics over an embedded line-item array:
    (o_orderkey, n_lines, revenue, max_qty, n_heavy, has_deep_disc).

    Nests the orderkey store's lineitem (sources.bucketing.orderkey_store):
    the scan's HashPartitioning(l_orderkey, 32) satisfies the groupBy,
    so each task nests only its own bucket and no corpus-wide
    collect_list exchange runs (shuffling 60M rows into 15M arrays
    swung 12-25 s at sf10 under memory pressure). Zero Exchange,
    plan-guarded in tests/test_round8_ops.py.

    ``array_sort`` on the struct array orders by the leading ``ln``
    field (unique per order), so the revenue fold adds identical
    doubles in identical order on both engines."""
    t_li, _ = orderkey_store(spark, sf_dir)
    li = spark.table(t_li)
    nested = (li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
              .agg(F.array_sort(F.collect_list(F.struct(
                  F.col("l_linenumber").alias("ln"),
                  F.col("l_quantity").alias("qty"),
                  F.col("l_extendedprice").alias("price"),
                  F.col("l_discount").alias("disc"))))
                  .alias("lines")))
    revenue = F.round(F.aggregate(
        "lines", F.lit(0.0),
        lambda acc, s: acc + s["price"] * (F.lit(1.0) - s["disc"])), 6)
    return nested.select(
        "o_orderkey",
        F.size("lines").cast("int").alias("n_lines"),
        revenue.alias("revenue"),
        F.array_max(F.transform("lines", lambda s: s["qty"]))
        .alias("max_qty"),
        F.size(F.filter("lines", lambda s: s["qty"] >= HEAVY_QTY))
        .cast("int").alias("n_heavy"),
        F.exists("lines", lambda s: s["disc"] > DEEP_DISCOUNT)
        .alias("has_deep_disc"))


ORDER_LINES_NESTED_ORACLE = f"""
WITH nested AS (
  SELECT l_orderkey AS o_orderkey,
         list(struct_pack(ln := l_linenumber, qty := l_quantity,
                          price := l_extendedprice, disc := l_discount)
              ORDER BY l_linenumber) AS lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey,
       CAST(len(lines) AS INTEGER) AS n_lines,
       round(list_reduce(list_prepend(
             0.0, list_transform(lines, s -> s.price * (1.0 - s.disc))),
             (a, b) -> a + b), 6) AS revenue,
       list_max(list_transform(lines, s -> s.qty)) AS max_qty,
       CAST(len(list_filter(lines, s -> s.qty >= {HEAVY_QTY}))
            AS INTEGER) AS n_heavy,
       len(list_filter(lines, s -> s.disc > {DEEP_DISCOUNT})) > 0
         AS has_deep_disc
FROM nested
"""
