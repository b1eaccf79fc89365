"""Cluster-placement analytics and data routing (SURVEY.md §2 Tier C1/C2).

The reference computes key placement (slot/node) but never moves data; on
Spark the natural completion is to *act* on that placement: analyze the
distribution a key column induces (the reference README's motivating use
case, README.md:10-15,108-120), and physically co-locate / route rows by
slot or node for downstream cluster loads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_cluster_hash_spark.core import DEFAULT_NODES
from duckdb_cluster_hash_spark.functions.clusterhash import (
    cluster_node_col,
    cluster_slot_col,
    node_of_slot_col,
)

__all__ = [
    "analyze_distribution",
    "hot_slots",
    "repartition_by_slot",
    "write_partitioned_by_node",
]


def analyze_distribution(
    df: DataFrame, key_col: str, n_nodes: int = DEFAULT_NODES
) -> DataFrame:
    """Per-node key distribution with skew diagnostics.

    Returns (node_id, key_count, share_bp, skew_ratio) where share_bp is
    the node's share in basis points (exact integer math) and skew_ratio
    is key_count / mean-count rounded to 4 decimals.  One shuffle
    (partial aggregation handles the 100 TB case); the window over the
    6-1024-row aggregate is trivial.
    """
    agg = (
        df.select(cluster_node_col(key_col, n_nodes).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("key_count"))
    )
    w = Window.partitionBy()
    total = F.sum("key_count").over(w)
    mean = total / F.count("*").over(w)
    return agg.select(
        "node_id",
        "key_count",
        F.floor((10000 * F.col("key_count")) / total).alias("share_bp"),
        F.round(F.col("key_count") / mean, 4).alias("skew_ratio"),
    ).orderBy("node_id")


def hot_slots(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Top-k hottest slots (deterministic tiebreak on slot id).

    ORDER BY + LIMIT compiles to TakeOrderedAndProject: only k rows leave
    each partition after the aggregate.
    """
    return (
        df.select(cluster_slot_col(key_col).alias("slot"))
        .groupBy("slot")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("slot"))
        .limit(k)
    )


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
