from .tables import (
    TABLE_NAMES,
    load_table,
    load_tables,
    parquet_schema,
    read_wholetext,
    register_views,
    spread_if_starved,
)

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "parquet_schema",
    "read_wholetext",
    "register_views",
    "spread_if_starved",
]
