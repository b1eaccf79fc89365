"""Spark-surface parity: the slot UDF behind the Column API and the SQL
catalog must be bit-exact against the pure-Python core and the FIXTURES.md
goldens, NULL-propagating, int32-typed, and registered in the SQL catalog
(reference: clusterhash_extension.cpp:93-124)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from duckdb_cluster_hash_spark import register_all, get_slot, get_node
from duckdb_cluster_hash_spark.functions.clusterhash import (
    cluster_slot_col,
    cluster_node_col,
    node_of_slot_col,
)
from tests.test_core import GOLDENS
from tests.test_plans import plan_of


@pytest.fixture(scope="module")
def keys_df(spark):
    schema = StructType([StructField("key", StringType())])
    rows = [Row(key=k) for k, *_ in GOLDENS] + [Row(key=None)]
    return spark.createDataFrame(rows, schema)


def _collect_map(df, key_col="key", val_col="v"):
    return {r[key_col]: r[val_col] for r in df.collect()}


def test_native_column_goldens(keys_df):
    out = keys_df.select(
        "key",
        cluster_slot_col("key").alias("slot"),
        cluster_node_col("key").alias("n6"),
        cluster_node_col("key", 3).alias("n3"),
    )
    got = {r["key"]: (r["slot"], r["n6"], r["n3"]) for r in out.collect()}
    for key, slot, n6, n3 in GOLDENS:
        assert got[key] == (slot, n6, n3), key
    assert got[None] == (None, None, None)


def test_native_schema_is_int32(keys_df):
    out = keys_df.select(
        cluster_slot_col("key").alias("s"), cluster_node_col("key").alias("n")
    )
    assert isinstance(out.schema["s"].dataType, IntegerType)
    assert isinstance(out.schema["n"].dataType, IntegerType)


def test_registered_udfs_goldens(spark, keys_df):
    register_all(spark)
    keys_df.createOrReplaceTempView("golden_keys")
    out = spark.sql(
        """SELECT key, cluster_slot(key) AS slot, cluster_node(key) AS n6,
                  cluster_node(key, 3) AS n3
           FROM golden_keys"""
    )
    assert isinstance(out.schema["slot"].dataType, IntegerType)
    got = {r["key"]: (r["slot"], r["n6"], r["n3"]) for r in out.collect()}
    for key, slot, n6, n3 in GOLDENS:
        assert got[key] == (slot, n6, n3), key
    assert got[None] == (None, None, None)


def test_sql_cluster_node_invalid_n_is_null(spark):
    """A shard count that is NULL or below 1 yields NULL, not shard 0; the
    old two-argument helper name is gone from the catalog."""
    register_all(spark)
    row = spark.sql(
        """SELECT cluster_node('user:1000', 0) AS z,
                  cluster_node('user:1000', -1) AS neg,
                  cluster_node('user:1000', CAST(NULL AS INT)) AS nul"""
    ).head()
    assert (row["z"], row["neg"], row["nul"]) == (None, None, None)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT cluster_node_n('user:1000', 3)").collect()


# Hash-tag edge keys GOLDENS lacks: an empty first tag, two tags, a tag
# mid-key, a non-ASCII tag, and keys of 1 KB and more (ASCII and 2-byte).
EDGE_KEYS = ["{}{a}", "{a}{b}", "a{b}c", "{ключ}:x", "k" * 1024, "é" * 700]


def test_udf_matches_core_on_table(spark, sf_small):
    """The slot UDF is bit-exact against the pure-Python core on customer
    names, {cust:X}:order:Y keys and the hash-tag edge keys."""
    cust = spark.read.parquet(f"{sf_small}/customer.parquet").select(
        F.col("c_name").alias("key")
    )
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        F.concat(
            F.lit("{cust:"),
            F.col("o_custkey").cast("string"),
            F.lit("}:order:"),
            F.col("o_orderkey").cast("string"),
        ).alias("key")
    )
    edges = spark.createDataFrame([(k,) for k in EDGE_KEYS], "key string")
    rows = (
        cust.unionByName(orders)
        .unionByName(edges)
        .select(
            "key",
            cluster_slot_col("key").alias("slot"),
            cluster_node_col("key").alias("n6"),
            cluster_node_col("key", 3).alias("n3"),
        )
        .collect()
    )
    bad = [
        r["key"]
        for r in rows
        if (r["slot"], r["n6"], r["n3"])
        != (get_slot(r["key"]), get_node(r["key"]), get_node(r["key"], 3))
    ]
    assert bad == []
    assert {r["key"] for r in rows} >= set(EDGE_KEYS)


def test_hashtag_colocation_on_orders(spark, sf_small):
    """{cust:X}:order:Y keys for one customer all land on one slot (C1)."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    keyed = orders.select(
        "o_custkey",
        cluster_slot_col(
            F.concat(
                F.lit("{cust:"),
                F.col("o_custkey").cast("string"),
                F.lit("}:order:"),
                F.col("o_orderkey").cast("string"),
            )
        ).alias("slot"),
    )
    bad = (
        keyed.groupBy("o_custkey")
        .agg(F.countDistinct("slot").alias("nslots"))
        .where("nslots > 1")
        .count()
    )
    assert bad == 0


def test_unregistered_function_raises(spark):
    """Negative catalog test (quack.test:6-9 shape)."""
    with pytest.raises(AnalysisException):
        spark.sql("SELECT definitely_not_registered_fn('x')").collect()


def test_node_of_slot_col_all_boundaries(spark):
    from duckdb_cluster_hash_spark.core import node_of_slot

    slots = [0, 2730, 2731, 5460, 5461, 8191, 8192, 10922, 10923, 13652, 13653, 16383]
    # n = 100000 at slot 16383: n * (2*slot + 1) is past INT's range
    df = spark.createDataFrame(
        [(s, 6) for s in slots] + [(0, 100000), (16383, 100000)], "slot int, n int"
    )
    got = df.select(
        "slot",
        "n",
        node_of_slot_col(F.col("slot"), 6).alias("lit6"),
        node_of_slot_col(F.col("slot"), 100000).alias("lit_big"),
        node_of_slot_col(F.col("slot"), F.col("n")).alias("by_col"),
    ).collect()
    assert len(got) == len(slots) + 2
    for r in got:
        assert r["lit6"] == node_of_slot(r["slot"], 6)
        assert r["lit_big"] == node_of_slot(r["slot"], 100000)
        assert r["by_col"] == node_of_slot(r["slot"], r["n"])


def test_user_keys_histogram_spark(spark):
    """Flagship README query shape (README.md:108-120) end-to-end."""
    keys = spark.range(1, 1001).select(
        F.concat(F.lit("user:"), F.col("id").cast("string")).alias("key")
    )
    hist = {
        r["node_id"]: r["key_count"]
        for r in keys.select(cluster_node_col("key", 3).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("key_count"))
        .collect()
    }
    assert hist == {1: 332, 2: 337, 3: 331}


def test_int_key_hashes_as_its_string(spark):
    """An INT key is cast to STRING in the JVM before the kernel, on both
    surfaces: its slot is get_slot(str(i))."""
    register_all(spark)
    df = spark.range(-5, 200).select(F.col("id").cast("int").alias("i"))
    df.createOrReplaceTempView("int_keys")
    rows = df.select("i", cluster_slot_col("i").alias("col")).join(
        spark.sql("SELECT i, cluster_slot(i) AS sql FROM int_keys"), "i"
    ).collect()
    assert len(rows) == 205
    for r in rows:
        assert r["col"] == r["sql"] == get_slot(str(r["i"])), r


ROUTE_SQL = (
    "SELECT cluster_node(k) AS node, count(*) AS n, "
    "sum(cluster_slot(k)) AS slot_sum FROM route_keys GROUP BY cluster_node(k)"
)


def test_route_plan_has_at_most_two_python_nodes(spark):
    """The README routing query plans at most two Python evaluations: the
    GROUP BY key is pulled into its own Project before Python UDFs are
    extracted, so its slot and the summed slot cannot share one node.  A
    node over a single key column plans exactly one."""
    register_all(spark)
    keys = spark.range(100).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    keys.createOrReplaceTempView("route_keys")
    assert plan_of(spark.sql(ROUTE_SQL)).count("ArrowEvalPython") <= 2
    assert plan_of(keys.select(cluster_node_col("k"))).count("ArrowEvalPython") == 1


def test_worker_skips_unchanged_zip_rereads(spark):
    """Inside a Python worker that imported the package, an
    importlib.invalidate_caches() over unchanged archives (pyspark.zip
    among them) reads no zip directory.  The first call stamps every
    importer; the second is the one a later task pays."""

    def count_rereads(_):
        import importlib
        import zipimport

        import duckdb_cluster_hash_spark  # noqa: F401 -- installs the shim

        importlib.invalidate_caches()
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(calls)

    assert spark.sparkContext.parallelize(range(2), 2).mapPartitions(count_rereads).collect() == [0, 0]
