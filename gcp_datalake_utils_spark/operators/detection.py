"""Relationship-detection strategies as DataFrame joins (SURVEY.md §2.3).

The reference implements five detection strategies as nested driver-Python
loops over pydantic lists (``relationship_detector.py:39-86`` in
/root/reference/bigquery-to-erd). Here each strategy is a genuine Spark
join over the classified columns catalog; the metadata side is always tiny
relative to payload data, so every join below broadcasts — at 100 TB the
catalog for even 100k tables is a few hundred MB, still broadcastable, and
nothing here touches payload rows.

Determinism: all reference tie-breaks that depended on Python list/dict
order are replaced by explicit total orders over ``(table_ord, ordinal)``
(FIXTURES.md §4); divergences from reference bugs are documented inline.

Strategy map (confidence, method):
- J1 ``foreign_key`` 0.8         (relationship_detector.py:88-120)
- J4 ``naming_convention`` 0.6   (relationship_detector.py:380-429)
- J2 ``enhanced_pk_fk`` 0.9      (relationship_detector.py:122-175)
- J3 ``data_type_match`` 0.4     (relationship_detector.py:431-482)
- J5 ``custom_rules`` / ``custom_naming_pattern`` (rule-supplied)
                                  (relationship_detector.py:484-533,677-717)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.operators.classify import classified_columns
from gcp_datalake_utils_spark.rules import compiler as rc
from gcp_datalake_utils_spark.session import SessionCache, session_key

# strategy union order in detect_relationships
# (relationship_detector.py:58-77) — the tie-break the reference gets from
# list insertion order.
METHOD_PRIORITY = {
    "foreign_key": 1,
    "naming_convention": 2,
    "enhanced_pk_fk": 3,
    "data_type_match": 4,
    "custom_rules": 5,
    "custom_naming_pattern": 6,
}

# shipped filtering config (config/relationship_patterns.json:247-253)
MAX_RELS_PER_TABLE = 3
MIN_CONFIDENCE = 0.5
PREFERRED_METHODS = ["enhanced_pk_fk", "data_vault_pattern"]

REL_COLS = ["source_table", "source_column", "target_table", "target_column",
            "relationship_type", "confidence", "detection_method",
            "is_custom"]

_STRIP = rc.strip_key_suffix_sql("lower(name)", "spark")


def _tables_set(spark: SparkSession) -> DataFrame:
    return fx.meta_tables_df(spark).select("table_id", "table_ord")


def first_pk_per_table(cls: DataFrame) -> DataFrame:
    """First explicit-PK column per table by ordinal (used by
    ``_find_best_target_column``, relationship_detector.py:594-597)."""
    w = Window.partitionBy("table_id").orderBy("ordinal")
    return (cls.filter("is_pk")
            .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select(F.col("table_id").alias("t_table"),
                    F.col("name").alias("pk_name")))


def scored_column_per_table_type(cls: DataFrame) -> DataFrame:
    """Best scored column per (table, data_type): +10 for id/key/pk name,
    +5 for REQUIRED; ties by ordinal (relationship_detector.py:599-614)."""
    score = (F.when(F.lower("name").isin("id", "key", "pk"), 10).otherwise(0)
             + F.when(F.col("mode") == "REQUIRED", 5).otherwise(0))
    w = (Window.partitionBy("table_id", "data_type")
         .orderBy(F.desc("score"), "ordinal"))
    return (cls.withColumn("score", score)
            .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select(F.col("table_id").alias("t_table"),
                    F.col("data_type").alias("t_type"),
                    F.col("name").alias("scored_name")))


def _attach_best_target(cand: DataFrame, cls: DataFrame) -> DataFrame:
    """Resolve target_column for rows carrying (target_table,
    source data_type): explicit PK first, else scored same-type column."""
    pk = first_pk_per_table(cls)
    sc = scored_column_per_table_type(cls)
    return (
        cand
        .join(F.broadcast(pk),
              cand["target_table"] == pk["t_table"], "left").drop("t_table")
        .join(F.broadcast(sc),
              (cand["target_table"] == sc["t_table"])
              & (cand["data_type"] == sc["t_type"]), "left")
        .withColumn("target_column", F.coalesce("pk_name", "scored_name"))
        .filter(F.col("target_column").isNotNull())
        .drop("t_table", "t_type", "pk_name", "scored_name")
    )


def detect_foreign_keys(spark: SparkSession,
                        cls: DataFrame | None = None) -> DataFrame:
    """J1: columns flagged is_fk -> target table via ordered name patterns
    (relationship_detector.py:88-120,535-581)."""
    cls = cls if cls is not None else classified_columns(spark)
    tabs = _tables_set(spark)
    base_id = F.regexp_extract(F.lower("name"), "^(.+)_id$", 1)
    base_key = F.regexp_extract(F.lower("name"), "^(.+)_key$", 1)
    base_fk = F.regexp_extract(F.lower("name"), "^(.+)_fk$", 1)
    cands = F.array(
        F.struct(F.lit(1).alias("prio"),
                 F.when(base_id != "", F.concat(base_id, F.lit("s")))
                 .alias("cand")),
        F.struct(F.lit(2).alias("prio"),
                 F.when(base_id != "", base_id).alias("cand")),
        F.struct(F.lit(3).alias("prio"),
                 F.when(base_key != "", F.concat(base_key, F.lit("s")))
                 .alias("cand")),
        F.struct(F.lit(4).alias("prio"),
                 F.when(base_fk != "", F.concat(base_fk, F.lit("s")))
                 .alias("cand")),
    )
    src = (cls.filter("is_fk")
           .withColumn("c", F.explode(cands))
           .select(F.col("table_id").alias("source_table"),
                   F.col("name").alias("source_column"),
                   "data_type", F.col("c.prio").alias("prio"),
                   F.col("c.cand").alias("cand"))
           .filter(F.col("cand").isNotNull()))
    w = Window.partitionBy("source_table", "source_column").orderBy("prio")
    hit = (src.join(F.broadcast(tabs),
                    src["cand"] == tabs["table_id"])
           .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
           .select("source_table", "source_column", "data_type",
                   F.col("table_id").alias("target_table")))
    out = _attach_best_target(hit, cls)
    return out.select(
        "source_table", "source_column", "target_table", "target_column",
        F.lit("many_to_one").alias("relationship_type"),
        F.lit(0.8).alias("confidence"),
        F.lit("foreign_key").alias("detection_method"),
        F.lit(False).alias("is_custom"))


def detect_naming_conventions(spark: SparkSession,
                              cls: DataFrame | None = None) -> DataFrame:
    """J4: non-FK ``{x}_id`` columns -> table ``{x}s``
    (relationship_detector.py:380-429; the reference lists the same
    pattern three times — collapsed to once, duplicates were dropped by
    later dedup anyway)."""
    cls = cls if cls is not None else classified_columns(spark)
    tabs = _tables_set(spark)
    base = F.regexp_extract(F.lower("name"), "^(.+)_id$", 1)
    src = (cls.filter(~F.col("is_fk"))
           .withColumn("cand", F.when(base != "", F.concat(base, F.lit("s"))))
           .filter(F.col("cand").isNotNull())
           .select(F.col("table_id").alias("source_table"),
                   F.col("name").alias("source_column"), "data_type", "cand"))
    hit = (src.join(F.broadcast(tabs), src["cand"] == tabs["table_id"])
           .select("source_table", "source_column", "data_type",
                   F.col("table_id").alias("target_table")))
    out = _attach_best_target(hit, cls)
    return out.select(
        "source_table", "source_column", "target_table", "target_column",
        F.lit("many_to_one").alias("relationship_type"),
        F.lit(0.6).alias("confidence"),
        F.lit("naming_convention").alias("detection_method"),
        F.lit(False).alias("is_custom"))


def pk_candidates(cls: DataFrame) -> DataFrame:
    """Enhanced-detection pk_map (relationship_detector.py:136-153):
    likely-PK columns per table, falling back to common-PK names for
    tables with none."""
    any_likely = (cls.groupBy("table_id")
                  .agg(F.max("likely_pk").alias("has_likely")))
    return (cls.join(F.broadcast(any_likely), "table_id")
            .filter((F.col("has_likely") & F.col("likely_pk"))
                    | (~F.col("has_likely") & F.col("common_pk")))
            .drop("has_likely"))


def best_pk_per_table(cls: DataFrame) -> DataFrame:
    """``_find_best_primary_key`` (relationship_detector.py:334-358) over
    pk_candidates: explicit PKs first (by ordinal), else 'id', else first
    candidate by ordinal."""
    pc = pk_candidates(cls)
    w = Window.partitionBy("table_id").orderBy(
        F.desc("is_pk"),
        F.when(F.col("is_pk") | (F.lower("name") == "id"), 0).otherwise(1),
        "ordinal")
    return (pc.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select(F.col("table_id").alias("t_table"),
                    F.col("name").alias("bp_name"),
                    F.col("data_type").alias("bp_type"),
                    F.col("mode").alias("bp_mode")))


def detect_enhanced_pk_fk(spark: SparkSession,
                          cls: DataFrame | None = None) -> DataFrame:
    """J2: three prioritized strategies — direct-name, pattern transform,
    type-compat fallback vs the pk_map
    (relationship_detector.py:122-258). Compatibility = identical
    data_type AND identical mode (:360-378)."""
    cls = cls if cls is not None else classified_columns(spark)
    tabs = _tables_set(spark)
    bp = best_pk_per_table(cls)
    src = (cls.filter(~F.col("is_fk"))
           .select(F.col("table_id").alias("source_table"),
                   F.col("table_ord").alias("source_ord"),
                   F.col("name").alias("source_column"),
                   "data_type", "mode")
           .withColumn("base", F.expr(
               rc.strip_key_suffix_sql("lower(source_column)", "spark"))))

    def first_existing(cand_df: DataFrame) -> DataFrame:
        """min-priority candidate that exists in the tables catalog,
        then require a compatible best-PK on the target."""
        w = (Window.partitionBy("source_table", "source_column")
             .orderBy("prio"))
        hit = (cand_df.filter(F.col("cand").isNotNull())
               .join(F.broadcast(tabs), cand_df["cand"] == tabs["table_id"])
               .withColumn("rn", F.row_number().over(w)).filter("rn = 1"))
        return (hit.join(F.broadcast(bp),
                         hit["table_id"] == bp["t_table"])
                .filter((F.col("data_type") == F.col("bp_type"))
                        & (F.col("mode") == F.col("bp_mode")))
                .select("source_table", "source_column",
                        F.col("table_id").alias("target_table"),
                        F.col("bp_name").alias("target_column")))

    prefixes = rc.TARGET_PREFIXES
    hub_base = F.regexp_replace(F.lower("source_column"),
                                "_(hk|hash_key)$", "")
    is_hub_ref = (F.lower("source_column").endswith("_hk")
                  | F.lower("source_column").endswith("_hash_key"))

    # strategy 1: direct name (base, then prefixed, then hub reference)
    s1_items = [F.struct(F.lit(1).alias("prio"), F.col("base").alias("cand"))]
    s1_items += [
        F.struct(F.lit(i + 2).alias("prio"),
                 F.concat(F.lit(p), F.col("base")).alias("cand"))
        for i, p in enumerate(prefixes)]
    s1_items.append(F.struct(
        F.lit(9).alias("prio"),
        F.when(is_hub_ref, F.concat(F.lit("h_"), hub_base)).alias("cand")))
    s1 = first_existing(
        src.withColumn("c", F.explode(F.array(*s1_items)))
        .select("source_table", "source_column", "data_type", "mode",
                F.col("c.prio").alias("prio"), F.col("c.cand").alias("cand"))
    ).withColumn("strategy", F.lit(1))

    # strategy 2: plural/singular transforms × (bare + prefixes), then hub
    transforms = [
        F.col("base"),
        F.concat(F.col("base"), F.lit("s")),
        F.concat(F.col("base"), F.lit("es")),
        F.regexp_replace(F.col("base"), "s+$", ""),
    ]
    s2_items = []
    for ci, t in enumerate(transforms):
        s2_items.append(F.struct(
            F.lit(ci * 10).alias("prio"), t.alias("cand")))
        s2_items += [
            F.struct(F.lit(ci * 10 + pi + 1).alias("prio"),
                     F.concat(F.lit(p), t).alias("cand"))
            for pi, p in enumerate(prefixes)]
    s2_items.append(F.struct(
        F.lit(99).alias("prio"),
        F.when(is_hub_ref, F.concat(F.lit("h_"), hub_base)).alias("cand")))
    s2 = first_existing(
        src.withColumn("c", F.explode(F.array(*s2_items)))
        .select("source_table", "source_column", "data_type", "mode",
                F.col("c.prio").alias("prio"), F.col("c.cand").alias("cand"))
    ).withColumn("strategy", F.lit(2))

    # strategy 3: first pk-candidate column (catalog order) with identical
    # (data_type, mode) on another table (relationship_detector.py:249-256)
    pc = pk_candidates(cls).select(
        F.col("table_id").alias("target_table"),
        F.col("table_ord").alias("target_ord"),
        F.col("ordinal").alias("target_ordinal"),
        F.col("name").alias("target_column"),
        F.col("data_type").alias("t_type"), F.col("mode").alias("t_mode"))
    w3 = (Window.partitionBy("source_table", "source_column")
          .orderBy("target_ord", "target_ordinal"))
    s3 = (src.join(F.broadcast(pc),
                   (src["data_type"] == pc["t_type"])
                   & (src["mode"] == pc["t_mode"])
                   & (src["source_table"] != pc["target_table"]))
          .withColumn("rn", F.row_number().over(w3)).filter("rn = 1")
          .select("source_table", "source_column", "target_table",
                  "target_column")
          .withColumn("strategy", F.lit(3)))

    ws = (Window.partitionBy("source_table", "source_column")
          .orderBy("strategy"))
    out = (s1.unionByName(s2).unionByName(s3)
           .withColumn("rn", F.row_number().over(ws)).filter("rn = 1"))
    return out.select(
        "source_table", "source_column", "target_table", "target_column",
        F.lit("many_to_one").alias("relationship_type"),
        F.lit(0.9).alias("confidence"),
        F.lit("enhanced_pk_fk").alias("detection_method"),
        F.lit(False).alias("is_custom"))


def detect_data_type_matches(spark: SparkSession,
                             cls: DataFrame | None = None) -> DataFrame:
    """J3: same-type non-PK column pairs (catalog order i<j) passing the
    naming-similarity predicate (relationship_detector.py:431-482,
    616-651).

    Note: the reference's pattern pairs use a ``\\1`` backreference as a
    *pattern*, which ``re`` cannot compile — the intended semantics
    (same-base suffix pair, or bare id/key vs suffixed) are implemented
    here and encoded in the oracle (SURVEY.md §7.5).

    Scale note: the join key is ``data_type`` plus the name-equality
    predicate, which Catalyst folds into the equi-join condition where
    possible; the catalog is metadata-sized, so this broadcasts."""
    cls = cls if cls is not None else classified_columns(spark)
    nonpk = cls.filter(~F.col("is_pk")).select(
        "table_id", "table_ord", "ordinal",
        F.lower("name").alias("lname"), F.col("name"), "data_type", "mode")
    a = nonpk.alias("a")
    b = nonpk.alias("b")
    pos_lt = ((F.col("a.table_ord") < F.col("b.table_ord"))
              | ((F.col("a.table_ord") == F.col("b.table_ord"))
                 & (F.col("a.ordinal") < F.col("b.ordinal"))))
    same_base = (
        (F.col("a.lname") == F.col("b.lname"))
        & (F.col("a.lname").endswith("_id")
           | F.col("a.lname").endswith("_key")))
    bare_vs_suffix = (
        ((F.col("a.lname") == "id") & F.col("b.lname").endswith("_id"))
        | ((F.col("b.lname") == "id") & F.col("a.lname").endswith("_id"))
        | ((F.col("a.lname") == "key") & F.col("b.lname").endswith("_key"))
        | ((F.col("b.lname") == "key") & F.col("a.lname").endswith("_key")))
    pairs = (
        a.join(b, (F.col("a.data_type") == F.col("b.data_type")) & pos_lt)
        .filter(F.col("a.table_id") != F.col("b.table_id"))
        .filter(~((F.col("a.mode") == "NULLABLE")
                  & (F.col("b.mode") == "NULLABLE")))
        .filter(same_base | bare_vs_suffix))
    return pairs.select(
        F.col("a.table_id").alias("source_table"),
        F.col("a.name").alias("source_column"),
        F.col("b.table_id").alias("target_table"),
        F.col("b.name").alias("target_column"),
        F.lit("many_to_one").alias("relationship_type"),
        F.lit(0.4).alias("confidence"),
        F.lit("data_type_match").alias("detection_method"),
        F.lit(False).alias("is_custom"))


def apply_custom_rules(spark: SparkSession,
                       cls: DataFrame | None = None) -> DataFrame:
    """J5: explicit 4-endpoint rules (existence-validated joins) plus
    naming-pattern rules (relationship_detector.py:484-533,677-717)."""
    cls = cls if cls is not None else classified_columns(spark)
    cols = cls.select("table_id", "name", "data_type")
    rules = fx.custom_rules_df(spark)
    explicit = (
        rules
        .join(F.broadcast(cols.select(F.col("table_id").alias("st"),
                                      F.col("name").alias("sc"))),
              (F.col("source_table") == F.col("st"))
              & (F.col("source_column") == F.col("sc")))
        .join(F.broadcast(cols.select(F.col("table_id").alias("tt"),
                                      F.col("name").alias("tc"))),
              (F.col("target_table") == F.col("tt"))
              & (F.col("target_column") == F.col("tc")))
        .select("source_table", "source_column", "target_table",
                "target_column", "relationship_type", "confidence",
                F.lit("custom_rules").alias("detection_method"),
                F.lit(True).alias("is_custom")))

    pattern_rels = None
    for pat, suffix, conf in fx.NAMING_PATTERNS:
        base = F.regexp_extract(F.lower("name"), pat, 1)
        src = (cls.filter(F.lower("name").rlike(pat))
               .withColumn("cand", F.concat(base, F.lit(suffix)))
               .select(F.col("table_id").alias("source_table"),
                       F.col("name").alias("source_column"),
                       "data_type", "cand"))
        tabs = _tables_set(spark)
        hit = (src.join(F.broadcast(tabs), src["cand"] == tabs["table_id"])
               .select("source_table", "source_column", "data_type",
                       F.col("table_id").alias("target_table")))
        out = _attach_best_target(hit, cls).select(
            "source_table", "source_column", "target_table", "target_column",
            F.lit("many_to_one").alias("relationship_type"),
            F.lit(float(conf)).alias("confidence"),
            F.lit("custom_naming_pattern").alias("detection_method"),
            F.lit(False).alias("is_custom"))
        pattern_rels = out if pattern_rels is None \
            else pattern_rels.unionByName(out)
    return explicit if pattern_rels is None \
        else explicit.unionByName(pattern_rels)


def _with_method_priority(rels: DataFrame) -> DataFrame:
    expr = F.when(F.lit(False), 0)
    for m, p in METHOD_PRIORITY.items():
        expr = expr.when(F.col("detection_method") == m, p)
    return rels.withColumn("method_priority", expr.otherwise(99))


def resolve_conflicts(rels: DataFrame) -> DataFrame:
    """A5 (relationship_detector.py:734-761): per 4-endpoint key keep the
    highest confidence; ties prefer custom, then strategy order (the
    reference's first-inserted-wins)."""
    w = Window.partitionBy(
        "source_table", "source_column", "target_table", "target_column"
    ).orderBy(F.desc("confidence"), F.desc("is_custom"), "method_priority")
    return (_with_method_priority(rels)
            .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .drop("rn"))


def filter_relationships(rels: DataFrame,
                         max_per_table: int = MAX_RELS_PER_TABLE,
                         min_confidence: float = MIN_CONFIDENCE,
                         preferred: list[str] | None = None) -> DataFrame:
    """W1 (relationship_detector.py:763-830): per-source-table top-N with
    min-confidence floor, preferred-method pass, ≥2 backfill, then global
    (source,target) pair dedup. Total order: confidence DESC,
    method_priority, source_column, target_table, target_column."""
    preferred = PREFERRED_METHODS if preferred is None else preferred
    w = Window.partitionBy("source_table").orderBy(
        F.desc("confidence"), "method_priority", "source_column",
        "target_table", "target_column")
    r = rels if "method_priority" in rels.columns \
        else _with_method_priority(rels)
    r = r.withColumn("rn", F.row_number().over(w))
    meaningful = (
        (F.col("rn") <= max_per_table)
        & (F.col("confidence") >= min_confidence)
        & (F.col("detection_method").isin(preferred)
           | (F.col("confidence") >= 0.5)))
    r = r.withColumn("meaningful", meaningful)
    counts = (r.groupBy("source_table")
              .agg(F.sum(F.when(F.col("meaningful"), 1).otherwise(0))
                   .alias("n_meaningful")))
    we = Window.partitionBy("source_table").orderBy("rn")
    extras = (
        r.join(counts, "source_table")
        .filter(~F.col("meaningful")
                & (F.col("confidence") >= min_confidence)
                & (F.col("n_meaningful") < 2))
        .withColumn("rn_e", F.row_number().over(we))
        .filter(F.col("rn_e") <= 2 - F.col("n_meaningful"))
        .withColumn("is_backfill", F.lit(True))
        .drop("n_meaningful", "rn_e"))
    kept = (r.filter("meaningful").withColumn("is_backfill", F.lit(False))
            .unionByName(extras))
    wp = Window.partitionBy("source_table", "target_table").orderBy(
        "is_backfill", "rn")
    return (kept.withColumn("rn_p", F.row_number().over(wp))
            .filter("rn_p = 1")
            .select(*REL_COLS))


def validate_relationships(rels: DataFrame, cls: DataFrame) -> DataFrame:
    """J8 (relationship_detector.py:840-941): both endpoints exist and
    types fall in the same compatibility group."""
    cols = cls.select("table_id", "name", "type_group")
    return (
        rels
        .join(F.broadcast(cols.select(
            F.col("table_id").alias("st"), F.col("name").alias("sc"),
            F.col("type_group").alias("sg"))),
            (F.col("source_table") == F.col("st"))
            & (F.col("source_column") == F.col("sc")))
        .join(F.broadcast(cols.select(
            F.col("table_id").alias("tt"), F.col("name").alias("tc"),
            F.col("type_group").alias("tg"))),
            (F.col("target_table") == F.col("tt"))
            & (F.col("target_column") == F.col("tc")))
        .filter(F.col("sg") == F.col("tg"))
        .select(*REL_COLS))


# (applicationId, filtered) -> checkpointed relationships table
_DETECT_CACHE = SessionCache()


def detect_all(spark: SparkSession,
               cls: DataFrame | None = None,
               filtered: bool = True) -> DataFrame:
    """Full standard pipeline (relationship_detector.py:39-86 + main.py
    validation): five strategies -> union -> conflict resolution ->
    top-N filter -> schema validation.

    The default-catalog result is eagerly checkpointed and memoized per
    session: the relationships table is the shared input of the graph /
    quality / formatter layers, and the catalog is immutable within a
    session — consumers get a materialized metadata-sized DataFrame
    instead of re-deriving the five-strategy plan."""
    if cls is None:
        return _DETECT_CACHE.get_or_build(
            (session_key(spark), filtered),
            lambda: _detect(spark, classified_columns(spark), filtered)
            .localCheckpoint())
    return _detect(spark, cls, filtered)


def _detect(spark: SparkSession, cls: DataFrame,
            filtered: bool) -> DataFrame:
    c = cls.cache()
    rels = (detect_foreign_keys(spark, c)
            .unionByName(detect_naming_conventions(spark, c))
            .unionByName(detect_enhanced_pk_fk(spark, c))
            .unionByName(detect_data_type_matches(spark, c))
            .unionByName(apply_custom_rules(spark, c)))
    resolved = resolve_conflicts(rels)
    out = filter_relationships(resolved) if filtered \
        else resolved.select(*REL_COLS)
    return validate_relationships(out, c) \
        .withColumn("confidence", F.round("confidence", 6))
