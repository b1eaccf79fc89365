from duckdb_cluster_hash_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
)
