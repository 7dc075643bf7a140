"""ERD diagram sinks: Mermaid / PlantUML / Draw.io (SURVEY.md §2.7 F12).

The reference renders diagrams by looping pydantic objects into strings
(``formatters/`` in /root/reference/bigquery-to-erd). Here line
generation is itself a DataFrame computation — (sort-key, line) rows
built from the catalog + relationships and numbered with a global
``row_number`` — so the diagram body is oracle-checkable like any other
query; only the final newline-join collects (diagram-scale by
definition: SURVEY.md §2.1 S12).

Line grammar mirrors ``mermaid_formatter.py`` / ``plantuml_formatter.py``
(type-lowered column lines, PK/FK/NOT NULL markers, ``}o--||``-style
connectors); table order is ``table_ord``, relationship order is the
engine's canonical (source_table, source_column, target_table,
target_column) — replacing the reference's list order (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.operators.classify import classified_columns
from gcp_datalake_utils_spark.operators.detection import detect_all
from gcp_datalake_utils_spark.sources import local_frame

_CONNECTOR = (
    "CASE relationship_type "
    "WHEN 'one_to_one' THEN '||--||' "
    "WHEN 'one_to_many' THEN '||--o{' "
    "WHEN 'many_to_one' THEN '}o--||' "
    "WHEN 'many_to_many' THEN '}o--o{' "
    "ELSE '||--o{' END")


def _numbered(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.orderBy("k1", "k2", "k3")
    return (out.withColumn("line_no", F.row_number().over(w))
            .select("line_no", "line"))


def mermaid_lines(spark: SparkSession,
                  cls: DataFrame | None = None,
                  rels: DataFrame | None = None,
                  show_column_types: bool = True,
                  show_column_nullable: bool = True) -> DataFrame:
    """[Q] (line_no, line) rows of the Mermaid ERD.

    Display toggles (reference semantics): ``show_column_types=False``
    renders the literal default type ``string`` in place of the real
    type (mermaid_formatter.py:56-60); ``show_column_nullable=False``
    drops the NOT NULL marker (the base_formatter.py:120-124 nullable
    gate mapped onto this grammar)."""
    cls = cls if cls is not None else classified_columns(spark)
    rels = rels if rels is not None else detect_all(spark)
    header = spark.range(1).select(
        F.lit(0).alias("k1"), F.lit(0).alias("k2"), F.lit(0).alias("k3"),
        F.lit("erDiagram").alias("line"))
    t_open = cls.select("table_ord").distinct().join(
        F.broadcast(fx.meta_tables_df(spark)), "table_ord").select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(0).alias("k3"),
        F.concat(F.lit("    "), "table_id", F.lit(" {")).alias("line"))
    col_lines = cls.select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.col("ordinal").alias("k3"),
        F.concat(
            F.lit("        "),
            F.lower("data_type") if show_column_types
            else F.lit("string"),
            F.lit(" "), "name",
            F.when(F.col("is_pk"), " PK").otherwise(""),
            F.when(F.col("is_fk"), " FK").otherwise(""),
            (F.when(F.col("mode") == "REQUIRED", " NOT NULL")
             .otherwise("")) if show_column_nullable else F.lit(""))
        .alias("line"))
    t_close = cls.select("table_ord").distinct().select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(9998).alias("k3"), F.lit("    }").alias("line"))
    t_blank = cls.select("table_ord").distinct().select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(9999).alias("k3"), F.lit("").alias("line"))
    w = Window.orderBy("source_table", "source_column", "target_table",
                       "target_column")
    rel_lines = rels.withColumn("rk", F.row_number().over(w)).select(
        F.lit(2).alias("k1"), F.col("rk").alias("k2"), F.lit(0).alias("k3"),
        F.concat(F.lit("    "), "source_table", F.lit(" "),
                 F.expr(_CONNECTOR), F.lit(" "), "target_table",
                 F.lit(" : "), "source_column", F.lit(" -> "),
                 "target_column").alias("line"))
    return _numbered([header, t_open, col_lines, t_close, t_blank,
                      rel_lines])


def mermaid_erd(spark: SparkSession,
                cls: DataFrame | None = None,
                rels: DataFrame | None = None,
                show_column_types: bool = True,
                show_column_nullable: bool = True) -> str:
    """Driver-facing sink: the full Mermaid document."""
    rows = mermaid_lines(spark, cls, rels, show_column_types,
                         show_column_nullable) \
        .orderBy("line_no").collect()
    return "\n".join(r["line"] for r in rows)


def plantuml_lines(spark: SparkSession,
                   cls: DataFrame | None = None,
                   rels: DataFrame | None = None,
                   show_column_types: bool = True,
                   show_column_nullable: bool = True) -> DataFrame:
    """[Q] (line_no, line) rows of the PlantUML ERD (entity names
    sanitized per ``plantuml_formatter.py:48-58``: -/space -> _,
    lowercased). ``show_column_types=False`` drops the `` : type``
    suffix (plantuml_formatter.py:83-84); ``show_column_nullable=
    False`` drops the NOT NULL marker (base_formatter.py:120-124
    gate)."""
    cls = cls if cls is not None else classified_columns(spark)
    rels = rels if rels is not None else detect_all(spark)
    ent = F.lower(F.translate(F.col("table_id"), "- ", "__"))
    header = spark.range(1).select(
        F.lit(0).alias("k1"), F.lit(0).alias("k2"), F.lit(0).alias("k3"),
        F.lit("@startuml ERD").alias("line"))
    theme = spark.range(1).select(
        F.lit(0).alias("k1"), F.lit(1).alias("k2"), F.lit(0).alias("k3"),
        F.lit("!theme plain").alias("line"))
    blank0 = spark.range(1).select(
        F.lit(0).alias("k1"), F.lit(2).alias("k2"), F.lit(0).alias("k3"),
        F.lit("").alias("line"))
    t_open = cls.select("table_ord").distinct().join(
        F.broadcast(fx.meta_tables_df(spark)), "table_ord").select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(0).alias("k3"),
        F.concat(F.lit('entity "'), "table_id", F.lit('" as '), ent,
                 F.lit(" {")).alias("line"))
    col_lines = cls.select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.col("ordinal").alias("k3"),
        F.concat(
            F.lit("    "),
            F.when(F.col("is_pk"), "* ").otherwise(""),
            F.when(F.col("is_fk"), "~ ").otherwise(""),
            (F.when(F.col("mode") == "REQUIRED", "NOT NULL ")
             .otherwise("")) if show_column_nullable else F.lit(""),
            F.col("name"),
            F.concat(F.lit(" : "), F.col("data_type"))
            if show_column_types else F.lit("")).alias("line"))
    t_close = cls.select("table_ord").distinct().select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(9998).alias("k3"), F.lit("}").alias("line"))
    t_blank = cls.select("table_ord").distinct().select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(9999).alias("k3"), F.lit("").alias("line"))
    sent = F.lower(F.translate(F.col("source_table"), "- ", "__"))
    tent = F.lower(F.translate(F.col("target_table"), "- ", "__"))
    w = Window.orderBy("source_table", "source_column", "target_table",
                       "target_column")
    rel_lines = rels.withColumn("rk", F.row_number().over(w)).select(
        F.lit(2).alias("k1"), F.col("rk").alias("k2"), F.lit(0).alias("k3"),
        F.concat(sent, F.lit(" "), F.expr(_CONNECTOR), F.lit(" "), tent,
                 F.lit(" : "), "source_column", F.lit(" -> "),
                 "target_column").alias("line"))
    footer = spark.range(1).select(
        F.lit(3).alias("k1"), F.lit(0).alias("k2"), F.lit(0).alias("k3"),
        F.lit("@enduml").alias("line"))
    return _numbered([header, theme, blank0, t_open, col_lines, t_close,
                      t_blank, rel_lines, footer])


def mermaid_lines_noviews(spark: SparkSession) -> DataFrame:
    """[Q] the --no-include-views/--no-include-external-tables CLI
    path: VIEW/EXTERNAL tables never enter classification, so
    detection runs on (and validates against) the reduced catalog —
    reference connector semantics (bigquery_connector.py:224), not a
    post-hoc line filter."""
    cls = classified_columns(spark, include_views=False,
                             include_external=False)
    return mermaid_lines(spark, cls, detect_all(spark, cls=cls))


def plantuml_erd(spark: SparkSession,
                 cls: DataFrame | None = None,
                 rels: DataFrame | None = None,
                 show_column_types: bool = True,
                 show_column_nullable: bool = True) -> str:
    rows = plantuml_lines(spark, cls, rels, show_column_types,
                          show_column_nullable) \
        .orderBy("line_no").collect()
    return "\n".join(r["line"] for r in rows)


_XML_ESC = ("replace(replace(replace(replace({0}, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;')")


def _xesc(col_sql: str):
    """Minimal XML attribute escaping as a Column expression — the
    same replace chain the DuckDB oracle runs, so escaped ids agree
    byte-for-byte across engines."""
    return F.expr(_XML_ESC.format(col_sql))


DRAWIO_THEME_STYLES = {
    # reference drawio_formatter.py:223-239 table-cell fill/stroke/font
    "default": "fillColor=#dae8fc;strokeColor=#6c8ebf;fontColor=#000000;",
    "dark": "fillColor=#2d2d2d;strokeColor=#666666;fontColor=#ffffff;",
    "minimal": "fillColor=#ffffff;strokeColor=#000000;fontColor=#000000;",
}


def drawio_lines(spark: SparkSession,
                 cls: DataFrame | None = None,
                 rels: DataFrame | None = None,
                 grid_cols: int = 4,
                 cell_w: int = 200, cell_h: int = 40,
                 gap_x: int = 60, gap_y: int = 60,
                 theme: str = "default") -> DataFrame:
    """[Q] (line_no, line) rows of the Draw.io mxGraph XML
    (``drawio_formatter.py:26-294`` grammar: one table vertex per
    entity on a deterministic grid, one edge per relationship, solid
    arrows for confidence >= 0.8, dashed otherwise). Same
    DataFrame-native line generation as the Mermaid/PlantUML sinks,
    closing F12 symmetrically — the XML body is oracle-checkable.
    ``theme`` picks the table-cell color triple per
    ``drawio_formatter.py:231-238`` (default/dark/minimal)."""
    if theme not in DRAWIO_THEME_STYLES:
        raise ValueError(f"unknown drawio theme {theme!r}; "
                         f"one of {sorted(DRAWIO_THEME_STYLES)}")
    cls = cls if cls is not None else classified_columns(spark)
    rels = rels if rels is not None else detect_all(spark)
    hdr = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<mxfile host="app.diagrams.net">',
        '  <diagram id="erd" name="ERD">',
        '    <mxGraphModel><root>',
        '      <mxCell id="0"/>',
        '      <mxCell id="1" parent="0"/>',
    ]
    header = local_frame(
        spark, [(0, i, 0, s) for i, s in enumerate(hdr)],
        "k1 int, k2 int, k3 int, line string")
    counts = (cls.groupBy("table_ord")
              .agg(F.count("*").alias("n_cols"))
              .join(F.broadcast(fx.meta_tables_df(spark)), "table_ord"))
    idx = F.col("table_ord") - 1
    gx = (idx % grid_cols) * (cell_w + gap_x)
    gy = F.floor(idx / grid_cols) * (cell_h * 6 + gap_y)
    h = cell_h * (1 + F.col("n_cols"))
    tid = _xesc("table_id")
    t_cells = counts.select(
        F.lit(1).alias("k1"), F.col("table_ord").alias("k2"),
        F.lit(0).alias("k3"),
        F.concat(F.lit('      <mxCell id="tbl_'), tid,
                 F.lit('" value="'), tid,
                 F.lit('" vertex="1" parent="1" '
                       'style="shape=table;startSize=30;'
                       + DRAWIO_THEME_STYLES[theme] + '">'
                       '<mxGeometry x="'), gx.cast("long").cast("string"),
                 F.lit('" y="'), gy.cast("long").cast("string"),
                 F.lit(f'" width="{cell_w}" height="'),
                 h.cast("long").cast("string"),
                 F.lit('" as="geometry"/></mxCell>')).alias("line"))
    w = Window.orderBy("source_table", "source_column", "target_table",
                       "target_column")
    style = F.when(F.col("confidence") >= 0.8, "endArrow=block") \
        .otherwise("endArrow=open;dashed=1")
    rel_cells = rels.withColumn("rk", F.row_number().over(w)).select(
        F.lit(2).alias("k1"), F.col("rk").alias("k2"),
        F.lit(0).alias("k3"),
        F.concat(F.lit('      <mxCell id="rel_'),
                 (F.col("rk") - 1).cast("string"),
                 F.lit('" edge="1" parent="1" source="tbl_'),
                 _xesc("source_table"),
                 F.lit('" target="tbl_'), _xesc("target_table"),
                 F.lit('" style="'), style,
                 F.lit('"><mxGeometry relative="1" as="geometry"/>'
                       '</mxCell>')).alias("line"))
    ftr = ['    </root></mxGraphModel>', '  </diagram>', '</mxfile>']
    footer = local_frame(
        spark, [(3, i, 0, s) for i, s in enumerate(ftr)],
        "k1 int, k2 int, k3 int, line string")
    return _numbered([header, t_cells, rel_cells, footer])


def drawio_erd(spark: SparkSession,
               cls: DataFrame | None = None,
               rels: DataFrame | None = None,
               grid_cols: int = 4,
               cell_w: int = 200, cell_h: int = 40,
               gap_x: int = 60, gap_y: int = 60,
               theme: str = "default") -> str:
    """Draw.io XML sink (``drawio_formatter.py`` shape): entity boxes on
    a deterministic grid (G5 layout: position by table_ord), one edge per
    relationship. Assembled from the oracle-checked ``drawio_lines``
    rows; only the final (diagram-scale) collect leaves the engine."""
    rows = drawio_lines(spark, cls, rels, grid_cols, cell_w, cell_h,
                        gap_x, gap_y, theme).orderBy("line_no").collect()
    return "\n".join(r["line"] for r in rows)
