"""Cluster-placement data routing (SURVEY.md §2 Tier C1/C2).

The reference computes key placement (slot/node) but never moves data; on
Spark the natural completion is to *act* on that placement: physically
co-locate / route rows by slot or node for downstream cluster loads.  The
per-node distribution analytics are catalog queries (plans/cluster.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.core import DEFAULT_NODES
from duckdb_cluster_hash_spark.functions.clusterhash import (
    cluster_node_col,
    cluster_slot_col,
    node_of_slot_col,
)

__all__ = [
    "repartition_by_slot",
    "write_partitioned_by_node",
]


def repartition_by_slot(
    df: DataFrame, key_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Physically co-locate rows by hash slot.

    Adds ``slot`` and ``node_id`` columns and repartitions on ``slot`` —
    rows sharing a hash tag land in the same partition, mirroring
    Redis-cluster placement inside the Spark job.  Downstream joins or
    stateful ops keyed by slot then run shuffle-free.
    """
    keyed = df.withColumn("slot", cluster_slot_col(key_col)).withColumn(
        "node_id", node_of_slot_col(F.col("slot"), DEFAULT_NODES)
    )
    if num_partitions:
        return keyed.repartition(num_partitions, "slot")
    return keyed.repartition("slot")


def write_partitioned_by_node(
    df: DataFrame,
    key_col: str,
    path: str,
    n_nodes: int = DEFAULT_NODES,
    format: str = "parquet",
) -> None:
    """Write per-shard output directories (node_id=k/...).

    ``partitionBy('node_id')`` gives one directory per shard so a loader
    can ship each directory to its owning node; file counts inside each
    directory follow the upstream partitioning (repartition first to
    bound small files at scale).
    """
    keyed = df.withColumn("node_id", cluster_node_col(key_col, n_nodes))
    keyed.write.format(format).mode("overwrite").partitionBy("node_id").save(path)
