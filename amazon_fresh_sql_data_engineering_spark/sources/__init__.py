from .loaders import (
    TABLE_NAMES,
    all_string_schema,
    clear_schema_cache,
    load_staging_csv,
    load_table,
    load_tables,
    read_parquet,
    register_views,
    schema_cache_stats,
)

__all__ = [
    "TABLE_NAMES",
    "all_string_schema",
    "clear_schema_cache",
    "load_staging_csv",
    "load_table",
    "load_tables",
    "read_parquet",
    "register_views",
    "schema_cache_stats",
]
