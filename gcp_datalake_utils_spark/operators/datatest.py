"""Data-driven relationship testing (SURVEY.md §2.3 J6/J7, §2.4 A1-A4).

Re-expresses ``data_relationship_tester.py`` (/root/reference/
bigquery-to-erd) as DataFrame aggregations over full columns instead of
driver-side Python sets over ``LIMIT n`` samples:

- referential integrity = |distinct src ∩ distinct tgt| / |distinct src|
  (``_calculate_referential_integrity`` :153-177) — here one per-value
  frequency table carrying both sides' counts (one combiner-applied
  shuffle for all specs)
- orphan_count = total_source_rows − overlap  (:91, the reference counts
  sample rows minus the set intersection size)
- distribution similarity = avg(1 − |ratio_src − ratio_tgt|) over common
  values × coverage (``_compare_value_distributions`` :243-284)
- overall = clamp(0.5·RI + 0.3·type + 0.2·dist)
  (``_calculate_overall_confidence`` :300-326)

Sampling note (SURVEY.md §7.4): the reference's ``LIMIT n`` sample is
storage-order-biased; the engine computes on full data (exact at test
scale) and exposes ``sample_fraction`` for seeded ``df.sample`` at 100 TB
— both engines then see the same rows only in full-data mode, so the
oracle pins full-data.

At scale: both sides reduce to per-value counts map-side, so the one
exchange carries |distinct values|, not |rows|; AQE handles skewed hot
keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from gcp_datalake_utils_spark.sources import load_table, local_frame
from gcp_datalake_utils_spark.session import SessionCache, session_key

# (src_table, src_col, tgt_table, tgt_col) relationship specs tested by
# the canonical data-test report — the TPC-H star-schema edges plus one
# deliberately weak edge (events.user_id -> customer) for contrast.
DATA_TEST_SPECS: list[tuple[str, str, str, str, str, str]] = [
    ("orders", "o_custkey", "customer", "c_custkey", "INT64", "INT64"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", "INT64", "INT64"),
    ("customer", "c_nationkey", "nation", "n_nationkey",
     "INTEGER", "INTEGER"),
    ("supplier", "s_nationkey", "nation", "n_nationkey",
     "INTEGER", "INTEGER"),
    ("events", "user_id", "customer", "c_custkey", "INT64", "INT64"),
]

_COMPAT = {
    "int64": ["integer", "int32", "int64"],
    "integer": ["int64", "int32", "integer"],
    "string": ["varchar", "text", "char"],
    "varchar": ["string", "text", "char"],
    "float64": ["float", "double", "numeric"],
    "float": ["float64", "double", "numeric"],
    "timestamp": ["datetime", "date"],
    "datetime": ["timestamp", "date"],
}
_NUMERIC = ["int64", "integer", "int32", "float64", "float", "double",
            "numeric"]
_STRINGY = ["string", "varchar", "text", "char"]


def type_compat_score(src_type: str, tgt_type: str) -> float:
    """``_check_type_compatibility`` (data_relationship_tester.py:183-241).
    Pure metadata — computed once per spec and injected as a literal in
    both engines."""
    s, t = src_type.lower(), tgt_type.lower()
    if s == t:
        return 1.0
    if s in _COMPAT and t in _COMPAT[s]:
        return 0.8
    if s in _NUMERIC and t in _NUMERIC:
        return 0.6
    if s in _STRINGY and t in _STRINGY:
        return 0.6
    return 0.2


def _key_type(t: DataType) -> str:
    """The type a relationship's values are counted in: integral types
    widen to BIGINT and float to DOUBLE (both lossless); any other
    type stays as it is."""
    name = t.simpleString()
    if name in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if name in ("float", "double"):
        return "double"
    return name


def _freq(spark: SparkSession, sf_dir: str,
          specs: list[tuple[str, str, str, str, str, str]],
          sample_fraction: float | None) -> DataFrame:
    """(spec, ca, cb) per distinct non-NULL value of every spec: ``ca``
    counts the value on the source side, ``cb`` on the target side.

    Each table is scanned ONCE for all of its spec columns: its rows
    explode into one (spec, is_src, v) entry per column, and a single
    partial-aggregated count grouped on (spec, v) carries both sides —
    one exchange for the whole report. Every spec column must widen to
    the same key type; otherwise this raises instead of comparing
    through a silent cast. ``sample_fraction`` samples each table
    (hence each side) with a fixed seed before it explodes."""
    tables: dict[str, DataFrame] = {}
    uses: dict[str, list[tuple[int, bool, str]]] = {}
    key = None
    for i, (st, sc, tt, tc, _, _) in enumerate(specs):
        for t, c, is_src in ((st, sc, True), (tt, tc, False)):
            if t not in tables:
                tables[t] = load_table(spark, sf_dir, t)
            k = _key_type(tables[t].schema[c].dataType)
            if key is not None and k != key:
                raise TypeError(
                    f"{t}.{c} ({k}) and the other spec columns ({key}) "
                    "do not widen to one key type")
            key = k
            uses.setdefault(t, []).append((i, is_src, c))
    rows = None
    for t, cols in uses.items():
        src = tables[t].select(*sorted({c for _, _, c in cols}))
        if sample_fraction is not None:
            src = src.sample(fraction=sample_fraction, seed=42)
        e = src.select(F.explode(F.array(*[
            F.struct(F.lit(i).alias("spec"),
                     F.lit(is_src).alias("is_src"),
                     F.col(c).cast(key).alias("v"))
            for i, is_src, c in cols])).alias("e")).select("e.*")
        rows = e if rows is None else rows.unionByName(e)
    return (rows.where(F.col("v").isNotNull())
            .groupBy("spec", "v")
            .agg(F.count_if("is_src").alias("ca"),
                 F.count_if(~F.col("is_src")).alias("cb"))
            .drop("v"))


def _report_for_specs(spark: SparkSession, sf_dir: str,
                      specs: list[tuple[str, str, str, str, str, str]],
                      sample_fraction: float | None = None) -> DataFrame:
    """All specs in ONE plan over ONE frequency exchange (_freq):

    - per-side totals = groupBy(spec) over the frequency table, a value
      counting for a side when its count there is positive; a side
      with no values gets NULL rows, as the oracle's ``sum`` does
    - common-value stats = the values with both counts positive, one
      grouped agg with the 1-row-per-spec totals broadcast into the
      similarity term — no join of the two sides at all

    Both aggregations re-read the same exchange (ReuseExchange); its
    size is |distinct values| per spec (map-side combined), never
    |rows|."""
    freq = _freq(spark, sf_dir, specs, sample_fraction)
    ca, cb = F.col("ca"), F.col("cb")
    totals = freq.groupBy("spec").agg(
        F.count_if(ca > 0).alias("na_distinct"),
        F.sum(F.when(ca > 0, ca)).alias("na_rows"),
        F.count_if(cb > 0).alias("nb_distinct"),
        F.sum(F.when(cb > 0, cb)).alias("nb_rows"))
    stats = (freq.where((ca > 0) & (cb > 0))
             .join(F.broadcast(
                 totals.select("spec", "na_rows", "nb_rows")), "spec")
             .groupBy("spec")
             .agg(F.count("*").alias("n_common"),
                  F.sum("ca").alias("common_src_rows"),
                  F.avg(1.0 - F.abs(ca / F.col("na_rows")
                                    - cb / F.col("nb_rows")))
                  .alias("avg_sim")))
    # the meta left-joins keep a spec whose side(s) are empty (all-NULL
    # column, zero sample): it must yield a zeros row like the oracle's
    # always-1-row sa/sb CTEs, not vanish
    # (no broadcast hint: meta is the preserved side of both left
    # joins, which Spark cannot build, so the hint was only a WARN)
    # spec is int, the type of _freq's F.lit(i) tag, so the joins
    # compare without a cast
    meta = local_frame(
        spark,
        [(i, f"{st}.{sc}->{tt}.{tc}", type_compat_score(sty, tty))
         for i, (st, sc, tt, tc, sty, tty) in enumerate(specs)],
        "spec int, relationship string, tscore double")
    row = (meta.join(totals, "spec", "left").join(stats, "spec", "left")
           .withColumn("na_distinct",
                       F.coalesce(F.col("na_distinct"), F.lit(0)))
           .withColumn("nb_distinct",
                       F.coalesce(F.col("nb_distinct"), F.lit(0)))
           .withColumn("n_common",
                       F.coalesce(F.col("n_common"), F.lit(0)))
           .withColumn("common_src_rows",
                       F.coalesce(F.col("common_src_rows"), F.lit(0)))
           .withColumn("referential_integrity",
                       F.when(F.col("na_distinct") > 0,
                              F.col("n_common") / F.col("na_distinct"))
                       .otherwise(F.lit(0.0)))
           .withColumn("coverage",
                       F.col("n_common")
                       / F.greatest("na_distinct", "nb_distinct"))
           .withColumn("distribution_similarity",
                       F.when(F.col("n_common") > 0,
                              F.col("avg_sim") * F.col("coverage"))
                       .otherwise(F.lit(0.0)))
           .withColumn("type_compatibility", F.col("tscore"))
           .withColumn(
               "overall_confidence",
               F.least(F.lit(1.0), F.greatest(
                   F.lit(0.0),
                   0.5 * F.col("referential_integrity")
                   + 0.3 * F.col("type_compatibility")
                   + 0.2 * F.col("distribution_similarity"))))
           .withColumn("orphan_count",
                       (F.col("na_rows") - F.col("common_src_rows"))
                       .cast("long"))
           .withColumn("total_source_records",
                       F.col("na_rows").cast("long")))
    return row.select(
        "relationship",
        F.round("referential_integrity", 6).alias("referential_integrity"),
        F.round("type_compatibility", 6).alias("type_compatibility"),
        F.round("distribution_similarity", 6)
        .alias("distribution_similarity"),
        F.round("overall_confidence", 6).alias("overall_confidence"),
        "orphan_count", "total_source_records",
        F.col("na_distinct").cast("long").alias("distinct_source"),
        F.col("nb_distinct").cast("long").alias("distinct_target"),
        F.col("n_common").cast("long").alias("common_values"))


def test_relationship(spark: SparkSession, sf_dir: str,
                      src_table: str, src_col: str,
                      tgt_table: str, tgt_col: str,
                      src_type: str, tgt_type: str,
                      sample_fraction: float | None = None) -> DataFrame:
    """One-row DataFrame of test metrics for a relationship."""
    spec = (src_table, src_col, tgt_table, tgt_col, src_type, tgt_type)
    return _report_for_specs(spark, sf_dir, [spec], sample_fraction)


_REPORT_CACHE = SessionCache()


def data_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] J6+J7+A1-A4: metrics for every canonical relationship spec.

    Memoized per (session, sf_dir) with an eager localCheckpoint, the
    same cache semantics as the reference's relationship cache
    (relationship_cache.py, 24 h TTL — data-test metrics feed detection
    enhancement and are cached with it): the metrics are immutable for a
    given snapshot, so consumers get the materialized 5-row report
    instead of re-deriving the frequency plan."""
    return _REPORT_CACHE.get_or_build(
        (session_key(spark), sf_dir),
        lambda: _report_for_specs(
            spark, sf_dir, DATA_TEST_SPECS).localCheckpoint())


def _one_oracle(src_table: str, src_col: str, tgt_table: str, tgt_col: str,
                src_type: str, tgt_type: str) -> str:
    tscore = type_compat_score(src_type, tgt_type)
    return f"""
SELECT '{src_table}.{src_col}->{tgt_table}.{tgt_col}' AS relationship,
       round(CASE WHEN na_distinct > 0
             THEN n_common / CAST(na_distinct AS DOUBLE) ELSE 0.0 END, 6)
         AS referential_integrity,
       round(CAST({tscore!r} AS DOUBLE), 6) AS type_compatibility,
       round(CASE WHEN n_common > 0 THEN avg_sim *
             (n_common / CAST(greatest(na_distinct, nb_distinct) AS DOUBLE))
             ELSE 0.0 END, 6) AS distribution_similarity,
       round(least(1.0, greatest(0.0,
             0.5 * (CASE WHEN na_distinct > 0
                    THEN n_common / CAST(na_distinct AS DOUBLE)
                    ELSE 0.0 END)
             + 0.3 * CAST({tscore!r} AS DOUBLE)
             + 0.2 * (CASE WHEN n_common > 0 THEN avg_sim *
                      (n_common /
                       CAST(greatest(na_distinct, nb_distinct) AS DOUBLE))
                      ELSE 0.0 END))), 6) AS overall_confidence,
       CAST(na_rows - common_src_rows AS BIGINT) AS orphan_count,
       CAST(na_rows AS BIGINT) AS total_source_records,
       CAST(na_distinct AS BIGINT) AS distinct_source,
       CAST(nb_distinct AS BIGINT) AS distinct_target,
       CAST(n_common AS BIGINT) AS common_values
FROM (
  WITH fa AS (SELECT {src_col} AS v, count(*) AS ca FROM {src_table}
              WHERE {src_col} IS NOT NULL GROUP BY 1),
       fb AS (SELECT {tgt_col} AS v, count(*) AS cb FROM {tgt_table}
              WHERE {tgt_col} IS NOT NULL GROUP BY 1),
       sa AS (SELECT count(*) AS na_distinct, sum(ca) AS na_rows FROM fa),
       sb AS (SELECT count(*) AS nb_distinct, sum(cb) AS nb_rows FROM fb),
       cm AS (SELECT count(*) AS n_common,
                     coalesce(sum(ca), 0) AS common_src_rows,
                     avg(1.0 - abs(ca / CAST(
                           (SELECT na_rows FROM sa) AS DOUBLE)
                         - cb / CAST(
                           (SELECT nb_rows FROM sb) AS DOUBLE))) AS avg_sim
              FROM fa JOIN fb USING (v))
  SELECT * FROM sa, sb, cm
)
"""


def data_test_oracle() -> str:
    return "\nUNION ALL\n".join(
        _one_oracle(*spec) for spec in DATA_TEST_SPECS)


def adaptive_sample_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] S6+F8: Cochran adaptive sample size per payload table
    (``get_adaptive_sample_size`` / ``_calculate_sample_size``,
    data_relationship_tester.py:328-387): n = z²·0.25/0.05², finite-
    population corrected; tables under 1000 rows sample fully."""
    z = 1.96
    n0 = (z * z * 0.25) / (0.05 * 0.05)
    out = None
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        cnt = load_table(spark, sf_dir, t).agg(
            F.count("*").alias("row_count"))
        row = (cnt.select(
            F.lit(t).alias("table_id"),
            F.col("row_count").cast("long").alias("row_count"),
            F.when(F.col("row_count") < 1000, F.col("row_count"))
            .otherwise(F.least(
                F.floor(F.lit(n0) / (1.0 + (F.lit(n0) - 1.0)
                                     / F.col("row_count"))),
                F.col("row_count")))
            .cast("long").alias("sample_size")))
        out = row if out is None else out.unionByName(row)
    return out


def adaptive_sample_oracle() -> str:
    z = 1.96
    n0 = (z * z * 0.25) / (0.05 * 0.05)
    parts = []
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        parts.append(f"""
SELECT '{t}' AS table_id, CAST(count(*) AS BIGINT) AS row_count,
       CAST(CASE WHEN count(*) < 1000 THEN count(*)
            ELSE least(floor({n0!r} / (1.0 + ({n0!r} - 1.0) / count(*))),
                       count(*)) END AS BIGINT) AS sample_size
FROM {t}""")
    return "\nUNION ALL\n".join(parts)


def cochran_sample_size(population: int,
                        confidence_level: float = 0.95) -> int:
    """Driver-side helper mirroring the same formula for planner use."""
    z = {0.90: 1.645, 0.95: 1.96, 0.99: 2.576}.get(confidence_level, 1.96)
    n = (z * z * 0.25) / (0.05 * 0.05)
    if population < n:
        return population
    return min(int(n / (1 + (n - 1) / population)), population)
