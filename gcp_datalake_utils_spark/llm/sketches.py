"""Bounded-state sketches: HyperLogLog distinct counts and a Count-Min
frequency sketch with heavy-hitter readout.

At 100 TB, `COUNT(DISTINCT x)` and "top terms with counts" are the two
aggregations whose EXACT forms stop scaling first: exact distinct needs
a key-sized shuffle (every distinct value crosses the network) and
exact term counts need a vocabulary-sized hash table per partition.
Sketches replace both with FIXED-size aggregation state:

* HyperLogLog (p=8, m=256 registers): per-register max(rho) is a
  256-group aggregate — the partial HashAggregate below the exchange
  collapses each input partition to at most 256 rows, so what shuffles
  is O(partitions x 256) regardless of input size, and memory per task
  is constant. Standard error ~ 1.04/sqrt(256) = 6.5%.
* Count-Min (d=4 rows x w=1024 cells): the sketch is a 4096-group
  aggregate with the same partial-agg property; point-lookup estimates
  are upper bounds with overestimate <= e/w * total_mass at
  probability 1 - e^-d.

Cross-engine determinism (the repo's oracle contract): both engines
derive register index / cell index / rho from the SAME md5-hex prefix
arithmetic (Spark `conv(hex,16,10)` == DuckDB `('0x'||hex)::BIGINT`,
verified bit-identical), and the HLL register sum is computed as an
EXACT integer — sum of 2^(53-M_j) as BIGINT (max 256 * 2^53 < 2^62) —
so the final double division is a single deterministic operation, never
an order-dependent float fold. Count-Min is integer-only throughout.

Reference parity: the reference exposes only exact COUNT(*) /
COUNT(DISTINCT) scans (data_test SQL builders, data_test.py row-count
and distribution checks); sketches are part of this repo's
training-data-pipeline extension surface, not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.llm.terms import doc_term_pairs
from gcp_datalake_utils_spark.sources import load_table, local_frame

# --- HyperLogLog ----------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# alpha_m * m^2 * 2^53 pre-folded to ONE double literal so both engines
# perform a single division by the exact integer register sum
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_FACTOR = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)
_HLL_COLS = [("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
             ("lineitem", "l_suppkey"), ("orders", "o_custkey")]


def _hll_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_name, v): one branch per audited column; each branch scans
    exactly one parquet column (column pruning per union branch)."""
    parts = []
    for table, col in _HLL_COLS:
        t = load_table(spark, sf_dir, table)
        parts.append(t.select(F.lit(col).alias("col_name"),
                              F.col(col).cast("string").alias("v")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # the md5 register projection downstream is the row's measured
    # cost (see docstring); fan the value stream out so it does not
    # serialize on the handful of single-split union branches. All
    # downstream aggregation is integer max/sum — partitioning-
    # invariant (oracle-hash-gated).
    from gcp_datalake_utils_spark.sources import scaled_repartition
    return scaled_repartition(out, "col_name", "v")


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] HyperLogLog distinct-count sketch over FK columns, with the
    exact distinct count joined in for accuracy audit:
    (col_name, zero_registers, reg_sum, hll_estimate, exact_distinct,
    rel_error).

    The exact branch exists for the audit readout; the production
    pipeline at 100 TB runs the sketch branch alone (constant state).
    Profiled at sf1: wall time is md5 THROUGHPUT, not the distinct
    audit (register branch 4.3 s vs 0.5 s exact at 19.5M rows —
    DuckDB's md5 kernel is ~5x faster than Spark's). md5 is the
    cross-engine determinism anchor; a Spark-only deployment that
    doesn't need engine-portable registers should use the native
    `approx_count_distinct` (HLL++ over xxhash64, same plan shape)
    for ~5x on this branch.
    Register grid is generated (m x columns) and left-joined so empty
    registers contribute 2^53 to the sum exactly as the algorithm
    requires — never silently dropped."""
    vals = _hll_value_frame(spark, sf_dir)
    h = F.md5("v")
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v52 = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = (F.when(v52 == 0, F.lit(53))
           .otherwise(F.lit(53) - F.length(F.bin(v52))))
    regs = (vals.select("col_name", reg.alias("reg"), rho.alias("rho"))
            .groupBy("col_name", "reg")
            .agg(F.max("rho").alias("mx")))
    cols = local_frame(
        spark, [(c,) for _, c in _HLL_COLS], "col_name string")
    grid = (spark.range(HLL_M)
            .select(F.col("id").cast("int").alias("reg"))
            .crossJoin(F.broadcast(cols)))
    filled = (grid.join(regs, ["col_name", "reg"], "left")
            .select("col_name", "reg",
                    F.coalesce("mx", F.lit(0)).alias("mx")))
    folded = (filled.groupBy("col_name")
              .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mx)"))
                   .alias("reg_sum"),
                   F.sum(F.when(F.col("mx") == 0, 1).otherwise(0))
                   .cast("int").alias("zero_registers")))
    raw = F.lit(_HLL_FACTOR) / F.col("reg_sum")
    est = F.round(
        F.when((raw <= F.lit(2.5 * HLL_M))
               & (F.col("zero_registers") > 0),
               F.lit(float(HLL_M))
               * F.log(F.lit(float(HLL_M))
                       / F.col("zero_registers")))
        .otherwise(raw), 4)
    exact = (vals.groupBy("col_name")
             .agg(F.count_distinct("v").alias("exact_distinct")))
    return (folded.join(exact, "col_name")
            .select("col_name", "zero_registers", "reg_sum",
                    est.alias("hll_estimate"), "exact_distinct",
                    F.round((est - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 4)
                    .alias("rel_error")))


def _hll_values_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{col}' AS col_name, CAST({col} AS VARCHAR) AS v "
        f"FROM {table}"
        for table, col in _HLL_COLS)


_HLL_COLS_SQL = ", ".join(f"('{c}')" for _, c in _HLL_COLS)

HLL_DISTINCT_ORACLE = f"""
WITH vals AS ({_hll_values_sql()}),
hashed AS (
  SELECT col_name,
         ('0x' || substr(md5(v), 1, 2))::INT AS reg,
         ('0x' || substr(md5(v), 3, 13))::BIGINT AS v52
  FROM vals
),
regs AS (
  SELECT col_name, reg,
         max(CASE WHEN v52 = 0 THEN 53
                  ELSE 53 - length(bin(v52)) END) AS mx
  FROM hashed GROUP BY col_name, reg
),
grid AS (
  SELECT c.col_name, t.reg
  FROM (SELECT unnest(range({HLL_M})) AS reg) t
  CROSS JOIN (VALUES {_HLL_COLS_SQL}) c(col_name)
),
filled AS (
  SELECT g.col_name, g.reg, coalesce(r.mx, 0) AS mx
  FROM grid g LEFT JOIN regs r
    ON r.col_name = g.col_name AND r.reg = g.reg
),
folded AS (
  SELECT col_name,
         sum((CAST(1 AS BIGINT) << (53 - mx)))::BIGINT AS reg_sum,
         CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS INTEGER)
           AS zero_registers
  FROM filled GROUP BY col_name
),
est AS (
  SELECT col_name, zero_registers, reg_sum,
         round(CASE WHEN {_HLL_FACTOR!r} / reg_sum <= {2.5 * HLL_M}
                     AND zero_registers > 0
               THEN {float(HLL_M)!r}
                    * ln({float(HLL_M)!r}
                         / CAST(zero_registers AS DOUBLE))
               ELSE {_HLL_FACTOR!r} / reg_sum END, 4) AS hll_estimate
  FROM folded
),
exact AS (
  SELECT col_name, count(DISTINCT v) AS exact_distinct FROM vals
  GROUP BY col_name
)
SELECT e.col_name, e.zero_registers, e.reg_sum, e.hll_estimate,
       x.exact_distinct,
       round((e.hll_estimate - x.exact_distinct)
             / CAST(x.exact_distinct AS DOUBLE), 4) AS rel_error
FROM est e JOIN exact x USING (col_name)
"""


def hll_distinct_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] the Spark-native sketch twin of ``hll_distinct``: per FK
    column, ``approx_count_distinct`` (HLL++ over 64-bit xxhash — the
    JVM-side, constant-aggregation-state path a Spark-only deployment
    should run; ~5x the md5 register build, whose only job is
    cross-engine register portability).

    The estimate itself is engine-specific (DuckDB's approx sketch
    differs), so the ORACLED columns are the exact distinct count and
    a Spark-side accuracy audit flag: within_5pct must be true for
    every column (rsd is set to 2%, so a 5% miss means the sketch
    path is broken, and the driver's hash gate goes red). One scan,
    both aggregates partial — at 100 TB this is the production-shape
    profile query: constant state per column, no register grid, no
    distinct shuffle beyond the exact-audit branch."""
    # dedupe FIRST, then count + sketch the distinct stream: a
    # same-Aggregate (approx, count_distinct) pair plans an Expand
    # that doubles every input row and measured SUPER-additive
    # (2.0 s vs 0.69 + 0.9 s separately at sf0.1). The HLL estimate
    # is insertion-count-invariant, so sketching the distinct values
    # is the identical estimate with no Expand and one pipeline.
    # NULLs are excluded BEFORE the distinct so the count("*") over the
    # distinct stream matches both approx_count_distinct (null-skipping)
    # and the DuckDB oracle's count(DISTINCT v); without this, a nullable
    # audited column would inflate exact_distinct by its NULL row and the
    # within_5pct audit would compare a null-excluded approx against a
    # null-inflated exact.
    #
    # r8 rework (the r7 2.4x weak row, 11.0 s sf10): the md5 anchor's
    # shared (col_name, string) union made the native twin shuffle
    # STRING renderings of BIGINT keys through the exact-distinct
    # exchange — a portability cast the native path never needed. Per-
    # column branches distinct the NATIVE type (8-byte fixed-width
    # shuffle rows, no string materialization) and union the ONE-ROW
    # aggregates instead of the corpora. exact_distinct is unchanged
    # (int -> string casts are injective, so the oracle's
    # count(DISTINCT cast) equals the native distinct count);
    # within_5pct audits the same rsd=0.02 sketch over the native
    # values. Measured sf10: 10.97 -> 4.0 s (== DuckDB 4.5 s).
    parts = []
    for _table, col in _HLL_COLS:
        dist = (load_table(spark, sf_dir, _table)
                .where(F.col(col).isNotNull())
                .select(F.col(col).alias("v")).distinct())
        parts.append(
            dist.agg(F.approx_count_distinct("v", 0.02).alias("approx"),
                     F.count("*").alias("exact_distinct"))
            .select(F.lit(col).alias("col_name"), "approx",
                    "exact_distinct"))
    per_col = parts[0]
    for p in parts[1:]:
        per_col = per_col.unionByName(p)
    return per_col.select(
        "col_name", "exact_distinct",
        (F.abs(F.col("approx").cast("double")
               / F.col("exact_distinct") - 1.0) <= 0.05)
        .alias("within_5pct"))


# WHERE v IS NOT NULL mirrors the Spark side's null exclusion BEFORE
# the group: an all-NULL audited column then produces no output row in
# EITHER engine (without the filter DuckDB would still emit
# (col_name, 0, TRUE) for it while Spark's group disappears).
HLL_DISTINCT_NATIVE_ORACLE = f"""
WITH vals AS ({_hll_values_sql()})
SELECT col_name, count(DISTINCT v) AS exact_distinct,
       TRUE AS within_5pct
FROM vals WHERE v IS NOT NULL GROUP BY col_name
"""


# --- Count-Min ------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_K = 20


def _cms_cell_spark(row_col, term_col):
    salted = F.concat(row_col.cast("string"), F.lit("|"), term_col)
    return (F.conv(F.substring(F.md5(salted), 1, 5), 16, 10)
            .cast("long") % CMS_WIDTH).cast("int")


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] Count-Min sketch over the corpus term stream + heavy-hitter
    readout: (term, exact_tf, cm_estimate, overestimate) for the
    top-K terms by exact total frequency.

    Build path: the (doc, term, tf) pair rollup (shared ``terms``
    stage, partial-aggregated map-side) -> term totals -> explode d
    sketch rows -> groupBy (row, cell). Summing pre-rolled totals into
    cells is algebraically identical to hashing the raw token stream
    (sums commute) but ships pair-sized data, never tokens. The sketch
    itself is <= d*w = 4096 rows — broadcastable state, constant at
    any corpus size. The exact totals/top-K exist as the audit
    readout; cm_estimate >= exact_tf always (Count-Min guarantee,
    pytest-asserted)."""
    d = load_table(spark, sf_dir, "documents")
    # totals feeds both the sketch build and the top-K probe side and
    # Catalyst does not reuse the exchange, so the corpus scan + pair
    # rollup runs twice. At test SF that costs ~0.4 s and an eager
    # localCheckpoint costs MORE (it bypasses AQE); at real corpus
    # sizes persist()/checkpoint this vocabulary-sized frame once.
    totals = (doc_term_pairs(d).groupBy("term")
              .agg(F.sum("tf").alias("exact_tf")))
    rows = totals.select(
        "term", "exact_tf",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
        .alias("r"))
    sketch = (rows.groupBy(
        "r", _cms_cell_spark(F.col("r"), F.col("term")).alias("cell"))
        .agg(F.sum("exact_tf").alias("cell_tf")))
    top = (totals.orderBy(F.desc("exact_tf"), "term")
           .limit(CMS_TOP_K))
    probes = (top.select(
        "term", "exact_tf",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
        .alias("r"))
        .select("term", "exact_tf", "r",
                _cms_cell_spark(F.col("r"), F.col("term"))
                .alias("cell")))
    return (sketch.join(F.broadcast(probes), ["r", "cell"])
            .groupBy("term", "exact_tf")
            .agg(F.min("cell_tf").alias("cm_estimate"))
            .select("term", "exact_tf", "cm_estimate",
                    (F.col("cm_estimate") - F.col("exact_tf"))
                    .alias("overestimate")))


_WORDS = "string_split(trim(text), ' ')"

_CMS_CELL_SQL = ("CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' "
                 f"|| term), 1, 5))::BIGINT % {CMS_WIDTH} AS INTEGER)")

CMS_HEAVY_HITTERS_ORACLE = f"""
WITH pairs AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_WORDS}) AS term FROM documents)
  GROUP BY doc_id, term
),
totals AS (
  SELECT term, sum(tf) AS exact_tf FROM pairs GROUP BY term
),
rows_ AS (
  SELECT term, exact_tf, CAST(r AS INTEGER) AS r,
         {_CMS_CELL_SQL} AS cell
  FROM totals, unnest(range({CMS_DEPTH})) t(r)
),
sketch AS (
  SELECT r, cell, sum(exact_tf) AS cell_tf
  FROM rows_ GROUP BY r, cell
),
top AS (
  SELECT term, exact_tf FROM totals
  ORDER BY exact_tf DESC, term LIMIT {CMS_TOP_K}
),
probes AS (
  SELECT term, exact_tf, CAST(r AS INTEGER) AS r,
         {_CMS_CELL_SQL} AS cell
  FROM top, unnest(range({CMS_DEPTH})) t(r)
)
SELECT p.term, CAST(p.exact_tf AS BIGINT) AS exact_tf,
       CAST(min(s.cell_tf) AS BIGINT) AS cm_estimate,
       CAST(min(s.cell_tf) - p.exact_tf AS BIGINT) AS overestimate
FROM sketch s JOIN probes p ON s.r = p.r AND s.cell = p.cell
GROUP BY p.term, p.exact_tf
"""


def hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] GROUPED HyperLogLog: distinct users per event type —
    (event_type, zero_registers, reg_sum, hll_estimate,
    exact_distinct, rel_error).

    The form a production pipeline actually runs (distinct-per-key,
    not one global number): aggregation state is m registers PER
    GROUP, still constant per group and partial-merged map-side via
    max. The register grid left-join covers empty registers per
    group. Same md5-prefix register arithmetic as hll_distinct."""
    from gcp_datalake_utils_spark.sources import load_events
    from gcp_datalake_utils_spark.sources import scaled_repartition
    e = scaled_repartition(
        load_events(spark, sf_dir)
        .select("event_type", F.col("user_id").cast("string")
                .alias("v")),
        "event_type", "v")
    h = F.md5("v")
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v52 = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = (F.when(v52 == 0, F.lit(53))
           .otherwise(F.lit(53) - F.length(F.bin(v52))))
    regs = (e.select("event_type", reg.alias("reg"), rho.alias("rho"))
            .groupBy("event_type", "reg")
            .agg(F.max("rho").alias("mx")))
    groups = e.select("event_type").distinct()
    grid = (spark.range(HLL_M)
            .select(F.col("id").cast("int").alias("reg"))
            .crossJoin(F.broadcast(groups)))
    filled = (grid.join(regs, ["event_type", "reg"], "left")
              .select("event_type", "reg",
                      F.coalesce("mx", F.lit(0)).alias("mx")))
    folded = (filled.groupBy("event_type")
              .agg(F.sum(F.expr(
                  "shiftleft(CAST(1 AS BIGINT), 53 - mx)"))
                  .alias("reg_sum"),
                  F.sum(F.when(F.col("mx") == 0, 1).otherwise(0))
                  .cast("int").alias("zero_registers")))
    raw = F.lit(_HLL_FACTOR) / F.col("reg_sum")
    est = F.round(
        F.when((raw <= F.lit(2.5 * HLL_M))
               & (F.col("zero_registers") > 0),
               F.lit(float(HLL_M))
               * F.log(F.lit(float(HLL_M))
                       / F.col("zero_registers")))
        .otherwise(raw), 4)
    exact = (e.groupBy("event_type")
             .agg(F.count_distinct("v").alias("exact_distinct")))
    return (folded.join(exact, "event_type")
            .select("event_type", "zero_registers", "reg_sum",
                    est.alias("hll_estimate"), "exact_distinct",
                    F.round((est - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 4)
                    .alias("rel_error")))


HLL_GROUPED_ORACLE = f"""
WITH vals AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS v FROM events
),
hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(v), 1, 2))::INT AS reg,
         ('0x' || substr(md5(v), 3, 13))::BIGINT AS v52
  FROM vals
),
regs AS (
  SELECT event_type, reg,
         max(CASE WHEN v52 = 0 THEN 53
                  ELSE 53 - length(bin(v52)) END) AS mx
  FROM hashed GROUP BY event_type, reg
),
grid AS (
  SELECT g.event_type, t.reg
  FROM (SELECT unnest(range({HLL_M})) AS reg) t
  CROSS JOIN (SELECT DISTINCT event_type FROM events) g
),
filled AS (
  SELECT g.event_type, g.reg, coalesce(r.mx, 0) AS mx
  FROM grid g LEFT JOIN regs r
    ON r.event_type = g.event_type AND r.reg = g.reg
),
folded AS (
  SELECT event_type,
         sum((CAST(1 AS BIGINT) << (53 - mx)))::BIGINT AS reg_sum,
         CAST(sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS INTEGER)
           AS zero_registers
  FROM filled GROUP BY event_type
),
est AS (
  SELECT event_type, zero_registers, reg_sum,
         round(CASE WHEN {_HLL_FACTOR!r} / reg_sum <= {2.5 * HLL_M}
                     AND zero_registers > 0
               THEN {float(HLL_M)!r}
                    * ln({float(HLL_M)!r}
                         / CAST(zero_registers AS DOUBLE))
               ELSE {_HLL_FACTOR!r} / reg_sum END, 4) AS hll_estimate
  FROM folded
),
exact AS (
  SELECT event_type, count(DISTINCT v) AS exact_distinct FROM vals
  GROUP BY event_type
)
SELECT e.event_type, e.zero_registers, e.reg_sum, e.hll_estimate,
       x.exact_distinct,
       round((e.hll_estimate - x.exact_distinct)
             / CAST(x.exact_distinct AS DOUBLE), 4) AS rel_error
FROM est e JOIN exact x USING (event_type)
"""
