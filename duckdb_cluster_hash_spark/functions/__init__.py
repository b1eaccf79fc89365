from duckdb_cluster_hash_spark.functions.clusterhash import (  # noqa: F401
    cluster_slot_col,
    cluster_node_col,
    node_of_slot_col,
    register_all,
)
