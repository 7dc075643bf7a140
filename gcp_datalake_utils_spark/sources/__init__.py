from gcp_datalake_utils_spark.sources.registry import (  # noqa: F401
    TABLE_NAMES,
    load_events,
    load_table,
    local_frame,
    register_tables,
    scaled_repartition,
)
