"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()``   — named Spark queries (SURVEY.md §2 inventory).
``oracle_sql()``— matching DuckDB oracle SQL for the correctness gate.

Implementations live in ``duckdb_cluster_hash_spark``; this module is a
thin adapter over the query catalog.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    README.md:115-120 shape: shard histogram of customer keys through
    cluster_node_col (scan -> Arrow slot UDF -> projection -> shuffle agg
    -> sort).
    """
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    return QUERIES["cluster_node_distribution"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted -> rows-only)."""
    from duckdb_cluster_hash_spark.plans.catalog import ORACLES

    return dict(ORACLES)
