from mcp_iceberg_duckdb_spark.sources.tables import (  # noqa: F401
    SCHEMAS,
    TABLE_NAMES,
    Tables,
    load,
)
