"""Oracle-checked demo of a headline aggregate routed through the skew
utilities (``functions/skew.py``): per-type event totals via (key,
salt) partial aggregation then key merge — the single-hot-group case —
byte-identical to the plain aggregate's oracle, not just plausible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.functions.skew import two_phase_agg
from gcp_datalake_utils_spark.sources import load_events


def events_by_type_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] per-type event totals via two-phase (salted) aggregation."""
    e = load_events(spark, sf_dir).withColumn(
        # exact decimal value so the two-phase partial sums merge
        # order-independently (value carries <= 2 decimals)
        "value", F.round("value", 2).cast("decimal(18,2)"))
    agg = two_phase_agg(e, "event_type", n=8,
                        aggs={"event_id": "count", "value": "sum"})
    return agg.select(
        "event_type",
        F.col("count_event_id").cast("long").alias("n_events"),
        # exact DECIMAL sum internally; presented as its canonical
        # string (see payload._dstr rationale: driver-hashable AND
        # bit-stable, unlike a decimal->double cast)
        F.col("sum_value").cast("decimal(38,6)").cast("string")
        .alias("total_value"))


EVENTS_BY_TYPE_ORACLE = """
SELECT event_type,
       count(event_id) AS n_events,
       CAST(CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
            AS DECIMAL(38,6)) AS VARCHAR) AS total_value
FROM events
GROUP BY event_type
"""
