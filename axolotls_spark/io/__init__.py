from axolotls_spark.io.sources import (
    DEFAULT_SF_DIR,
    TABLES,
    load_table,
    register_views,
    table_path,
)

__all__ = [
    "DEFAULT_SF_DIR",
    "TABLES",
    "load_table",
    "register_views",
    "table_path",
]
