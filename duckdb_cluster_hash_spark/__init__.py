"""duckdb_cluster_hash_spark — PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference DuckDB extension ``lebmatter/duckdb-cluster-hash`` (Redis-cluster
consistent hashing: ``cluster_slot`` / ``cluster_node``), plus the
large-scale data-pipeline operators (distribution analytics, dedup,
similarity search, text analysis, multimodal plumbing, streaming) that the
hashing core exists to serve.

Usage::

    import duckdb_cluster_hash_spark as dch
    dch.register_all(spark)          # catalog registration (extension Load)
    spark.sql("SELECT cluster_slot('user:1000')")

Importing the package also installs ``zipshim``, so every Python worker
that unpickles one of its UDFs stops re-reading ``pyspark.zip`` per task.
"""

from duckdb_cluster_hash_spark import zipshim
from duckdb_cluster_hash_spark.core import (
    TOTAL_SLOTS,
    DEFAULT_NODES,
    crc16,
    extract_tag,
    get_slot,
    get_node,
    node_of_slot,
)
from duckdb_cluster_hash_spark.functions.clusterhash import (
    cluster_slot_col,
    cluster_node_col,
    node_of_slot_col,
    register_all,
)

zipshim.install()

__version__ = "0.2.0"

__all__ = [
    "TOTAL_SLOTS",
    "DEFAULT_NODES",
    "crc16",
    "extract_tag",
    "get_slot",
    "get_node",
    "node_of_slot",
    "cluster_slot_col",
    "cluster_node_col",
    "node_of_slot_col",
    "register_all",
    "__version__",
]
