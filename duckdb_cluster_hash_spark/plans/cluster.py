"""Tier A/B — cluster-hash surface: goldens, DDL flows, shard tables,
slot/node projections, portable-SQL probes.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark.functions.clusterhash import (
    cluster_node_col,
    cluster_slot_col,
    node_of_slot_col,
    register_all,
)
from duckdb_cluster_hash_spark.oracle import node_of_slot_sql, node_sql, slot_sql
from duckdb_cluster_hash_spark.plans._registry import _t, query


_GOLDEN_KEYS = [
    "foo", "bar", "user:1000", "{user:1000}:profile", "{user:1000}:sessions",
    "product:5432", "{user:profile}:1000", "", "{}", "user:{}", "{}}x",
    "a{b}c{d}e", "{{x}}", "Customer#000000000", "Customer#000000001",
    "Customer#000000002", "order:1", "order:2", "{cust:0}:order:1",
    "ключ", "日本語キー",
]


def _values_clause(keys: list[str]) -> str:
    quoted = ", ".join("('" + k.replace("'", "''") + "')" for k in keys)
    return f"(VALUES {quoted}) AS t(key)"


@query(
    "cluster_scalar_goldens",
    oracle=(
        f"SELECT key, {slot_sql('key')} AS slot, {node_sql('key')} AS node6, "
        f"{node_sql('key', 3)} AS node3 FROM {_values_clause(_GOLDEN_KEYS)}"
    ),
)
def cluster_scalar_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden key corpus through the slot kernel (Tier A)."""
    df = spark.createDataFrame([(k,) for k in _GOLDEN_KEYS], "key string")
    slotted = df.select("key", cluster_slot_col("key").alias("slot"))
    return slotted.select(
        "key",
        "slot",
        node_of_slot_col(F.col("slot"), 6).alias("node6"),
        node_of_slot_col(F.col("slot"), 3).alias("node3"),
    )


@query(
    "cluster_node_distribution",
    oracle=(
        f"SELECT {node_sql('c_name')} AS node_id, count(*) AS key_count "
        "FROM customer GROUP BY node_id ORDER BY node_id"
    ),
)
def cluster_node_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship README query (README.md:115-120): shard histogram of keys."""
    return (
        _t(spark, sf_dir, "customer")
        .select(cluster_node_col("c_name").alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("key_count"))
        .orderBy("node_id")
    )


@query(
    "cluster_node_arity_sweep",
    oracle=(
        "WITH keys AS (SELECT DISTINCT 'user:' || user_id::VARCHAR AS k "
        "FROM events), "
        f"slots AS (SELECT {slot_sql('k')} AS slot FROM keys), "
        "swept AS (SELECT slot, unnest([3, 6, 12]) AS n_nodes FROM slots) "
        "SELECT n_nodes::INTEGER AS n_nodes, "
        f"{node_of_slot_sql('slot', 'n_nodes')} AS node, "
        "CAST(count(*) AS BIGINT) AS n_keys "
        "FROM swept GROUP BY n_nodes, node ORDER BY n_nodes, node"
    ),
)
def cluster_node_arity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README 2-arg ``cluster_node(key, n)`` swept across cluster sizes
    n in {3, 6, 12} over the corpus's real user keys (A5/A7 — the 2-arg
    surface otherwise rides only on ``ddl_readme_flow``'s goldens).  The
    oracle recomputes every (slot, n) pair through the independent
    closed-form SQL, so equality pins the whole slot->shard map at three
    cluster sizes, not just n=6.

    Scale: the CRC16 slot is computed ONCE per distinct key, then the
    3-way sweep is a map-side ``explode`` over (slot, n) — no extra
    shuffle beyond the distinct and the 39-group aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    keys = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("k")
    ).distinct()
    slots = keys.select(cluster_slot_col(F.col("k")).alias("slot"))
    swept = slots.select(
        "slot",
        F.explode(F.array(F.lit(3), F.lit(6), F.lit(12))).alias("n_nodes"),
    )
    return (
        swept.select(
            "n_nodes",
            node_of_slot_col(F.col("slot"), F.col("n_nodes")).alias("node"),
        )
        .groupBy("n_nodes", "node")
        .agg(F.count("*").alias("n_keys"))
        .orderBy("n_nodes", "node")
    )


@query(
    "cluster_user_keys_histogram",
    oracle=(
        f"WITH keys AS (SELECT 'user:' || i::VARCHAR AS key FROM generate_series(1, 1000) t(i)) "
        f"SELECT {node_sql('key', 3)} AS node_id, count(*) AS key_count "
        "FROM keys GROUP BY node_id ORDER BY node_id"
    ),
)
def cluster_user_keys_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated corpus (README.md:108-120): generate_series -> || -> agg."""
    keys = spark.range(1, 1001, 1, numPartitions=4).select(
        F.concat(F.lit("user:"), F.col("id").cast("string")).alias("key")
    )
    return (
        keys.select(cluster_node_col("key", 3).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("key_count"))
        .orderBy("node_id")
    )


def _drop_table_and_location(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS plus stale-location cleanup.

    With the default in-memory catalog a new session forgets managed
    tables but their warehouse directories persist, so a bare CREATE
    fails with LOCATION_ALREADY_EXISTS.  A persistent metastore (the
    cluster deployment) wouldn't hit this — DROP removes the location —
    so the rmtree is local-session hygiene, not part of the semantics.
    """
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(warehouse, name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc)


@query(
    "ddl_readme_flow",
    oracle=(
        "WITH test_keys(key) AS (VALUES ('user:1000'), ('product:5432'), "
        "('{user:1000}:profile')) "
        f"SELECT key, {slot_sql('key')} AS slot, {node_sql('key', 3)} AS node_id "
        "FROM test_keys ORDER BY key"
    ),
)
def ddl_readme_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:71-85 verbatim through the DDL surface (B3/B4): CREATE
    TABLE + INSERT VALUES, then the two-argument cluster_node projection.
    The oracle validates the values; the Spark side is the capability
    under test — a real warehouse round-trip, not a temp view."""
    register_all(spark)
    _drop_table_and_location(spark, "ddl_test_keys")
    spark.sql("CREATE TABLE ddl_test_keys (key STRING) USING parquet")
    spark.sql(
        "INSERT INTO ddl_test_keys VALUES ('user:1000'), ('product:5432'), "
        "('{user:1000}:profile')"
    )
    return spark.sql(
        "SELECT key, cluster_slot(key) AS slot, cluster_node(key, 3) AS node_id "
        "FROM ddl_test_keys ORDER BY key"
    )


@query(
    "ddl_ctas_distribution",
    oracle=(
        "WITH many_keys AS (SELECT 'user:' || i::VARCHAR AS key "
        "FROM generate_series(1, 1000) t(i)) "
        f"SELECT {node_sql('key', 3)} AS node_id, count(*) AS key_count "
        "FROM many_keys GROUP BY node_id ORDER BY node_id"
    ),
)
def ddl_ctas_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:108-120 verbatim via CTAS (B5): materialize generated
    keys as a parquet table, then the shard histogram over the table."""
    register_all(spark)
    _drop_table_and_location(spark, "ddl_many_keys")
    spark.sql(
        "CREATE TABLE ddl_many_keys USING parquet AS "
        "SELECT concat('user:', id) AS key FROM range(1, 1001)"
    )
    return spark.sql(
        "SELECT cluster_node(key, 3) AS node_id, COUNT(*) AS key_count "
        "FROM ddl_many_keys GROUP BY node_id ORDER BY node_id"
    )


@query(
    "cluster_slot_projection",
    oracle=(
        f"SELECT c_custkey, c_name AS key, {slot_sql('c_name')} AS slot, "
        f"{node_sql('c_name')} AS node_id FROM customer"
    ),
)
def cluster_slot_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row scalar projection over a scan (README.md:81-85 shape, B10)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("key"),
        cluster_slot_col("c_name").alias("slot"),
        cluster_node_col("c_name").alias("node_id"),
    )


_HASHTAG_KEY_SQL = (
    "'{cust:' || o_custkey::VARCHAR || '}:order:' || o_orderkey::VARCHAR"
)


@query(
    "cluster_hashtag_colocation",
    oracle=(
        f"WITH keyed AS (SELECT o_custkey, {slot_sql(_HASHTAG_KEY_SQL)} AS slot FROM orders) "
        "SELECT o_custkey, count(DISTINCT slot) AS n_slots, min(slot) AS slot "
        "FROM keyed GROUP BY o_custkey"
    ),
)
def cluster_hashtag_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-tags co-locate a customer's orders on one slot (README.md:90-102)."""
    keyed = _t(spark, sf_dir, "orders").select(
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
    return keyed.groupBy("o_custkey").agg(
        F.countDistinct("slot").alias("n_slots"), F.min("slot").alias("slot")
    )


_ITEM_KEY_SQL = "'item:' || l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR"


@query(
    "cluster_hot_slots_topk",
    oracle=(
        f"WITH keyed AS (SELECT {slot_sql(_ITEM_KEY_SQL)} AS slot FROM lineitem) "
        "SELECT slot, count(*) AS cnt FROM keyed GROUP BY slot "
        "ORDER BY cnt DESC, slot LIMIT 20"
    ),
)
def cluster_hot_slots_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-slot top-k (C2): ORDER BY+LIMIT -> TakeOrderedAndProject."""
    keyed = _t(spark, sf_dir, "lineitem").select(
        cluster_slot_col(
            F.concat(
                F.lit("item:"),
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("slot")
    )
    return (
        keyed.groupBy("slot")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("slot"))
        .limit(20)
    )


_ORDER_KEY_SQL = "'order:' || o_orderkey::VARCHAR"


@query(
    "cluster_skew_report",
    oracle=(
        f"WITH keyed AS (SELECT {node_sql(_ORDER_KEY_SQL)} AS node_id FROM orders), "
        "agg AS (SELECT node_id, count(*) AS cnt FROM keyed GROUP BY node_id) "
        "SELECT node_id, cnt, "
        # DuckDB sum() widens to HUGEINT, so the quotient is HUGEINT/int128;
        # Spark emits BIGINT — the driver's value hash is type-sensitive.
        "CAST((10000 * cnt) // (SELECT sum(cnt) FROM agg) AS BIGINT) AS share_bp "
        "FROM agg ORDER BY node_id"
    ),
)
def cluster_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/skew analysis (C2): per-node share in basis points."""
    from pyspark.sql.window import Window

    keyed = _t(spark, sf_dir, "orders").select(
        cluster_node_col(
            F.concat(F.lit("order:"), F.col("o_orderkey").cast("string"))
        ).alias("node_id")
    )
    agg = keyed.groupBy("node_id").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    # exact integer floor-division (double / would misround quotients that
    # sit a hair under an integer; the oracle uses DuckDB's integer //)
    num = (10000 * F.col("cnt")).cast("long")
    return agg.select(
        "node_id",
        "cnt",
        ((num - F.pmod(num, total)) / total).cast("long").alias("share_bp"),
    ).orderBy("node_id")


@query(
    "cluster_shard_ranges",
    oracle=(
        "WITH slots AS (SELECT i AS slot FROM generate_series(0, 16383) t(i)), "
        "mapped AS (SELECT slot, "
        "((6 * (2 * slot + 1) + 32767) // 32768)::INTEGER AS node_id FROM slots) "
        "SELECT node_id, min(slot)::INTEGER AS slot_lo, max(slot)::INTEGER AS slot_hi "
        "FROM mapped GROUP BY node_id ORDER BY node_id"
    ),
)
def cluster_shard_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function surface: shard -> slot range map via Python UDTF,
    equal to the reference's hardcoded table (cpp:71-84) at n=6."""
    from duckdb_cluster_hash_spark.functions.clusterhash import shard_ranges_udtf

    spark.udtf.register("shard_ranges", shard_ranges_udtf())
    return spark.sql(
        "SELECT node_id, slot_lo, slot_hi FROM shard_ranges(6) ORDER BY node_id"
    )


@query(
    "sql_error_probe",
    oracle=(
        "SELECT * FROM (VALUES "
        "('registered_slot_golden', 1649), "
        "('unregistered_function_errors', 1)) t(probe, observed) "
        "ORDER BY probe"
    ),
)
def sql_error_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative catalog probe (B12, quack.test:6-9 'statement error'
    shape): calling a function that was never registered must raise an
    analysis error, and after ``register_all`` the registered function
    answers the README golden (cluster_slot('user:1000') = 1649).  The
    before/after pair is the reference's extension-load contract.

    The failure is EXPECTED, so both log channels are gated for the one
    statement: ``setLogLevel`` covers log4j, and PySpark 4's Python-side
    ``SQLQueryContextLogger`` (pyspark/errors/exceptions/base.py, which
    ``propagate = False`` puts outside the root logger's control) is
    disabled so the structured UNRESOLVED_ROUTINE stack trace does not
    flood stderr/driver artifacts."""
    import logging as _logging

    ctx_logger = _logging.getLogger("SQLQueryContextLogger")
    was_disabled = ctx_logger.disabled
    spark.sparkContext.setLogLevel("FATAL")  # the probe's failure is expected;
    ctx_logger.disabled = True  # keep the UNRESOLVED_ROUTINE stack out of logs
    try:
        spark.sql("SELECT cluster_slot_unregistered_probe('x')")
        unregistered_errors = 0
    except Exception:  # AnalysisException: UNRESOLVED_ROUTINE
        unregistered_errors = 1
    finally:
        ctx_logger.disabled = was_disabled
        spark.sparkContext.setLogLevel("ERROR")
    register_all(spark)
    slot = spark.sql("SELECT cluster_slot('user:1000') AS s").head()["s"]
    return spark.createDataFrame(
        [
            ("registered_slot_golden", int(slot)),
            ("unregistered_function_errors", unregistered_errors),
        ],
        "probe string, observed int",
    ).orderBy("probe")


@query(
    "cluster_resharding_plan",
    oracle=(
        "WITH s AS (SELECT i AS slot FROM generate_series(0, 16383) t(i)), "
        "m AS (SELECT slot, "
        f"{node_of_slot_sql('slot', 6)} AS node_from, "
        f"{node_of_slot_sql('slot', 8)} AS node_to FROM s) "
        "SELECT node_from, node_to, CAST(count(*) AS BIGINT) AS n_slots, "
        "min(slot)::INTEGER AS slot_lo, max(slot)::INTEGER AS slot_hi "
        "FROM m WHERE node_from != node_to "
        "GROUP BY node_from, node_to ORDER BY node_from, node_to"
    ),
)
def cluster_resharding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding migration plan for scaling a 6-node cluster to 8: for
    every (from, to) node pair, how many of the 16384 slots move and
    their slot range — the data-movement bill a cluster operator reads
    before a live reshard (Tier A domain: reference
    src/clusterhash_extension.cpp's get_node closed form evaluated at
    both cluster sizes).

    Scale: the slot table is a fixed 16384-row sequence (map-side
    ``explode(sequence(...))``), both node mappings are native integer
    Column expressions inside codegen, and slots-that-stay are filtered
    before the tiny (from, to) rollup.  The same plan joined against
    per-slot row counts (cluster_skew_report) prices the move in rows.
    """
    slots = spark.range(0, 16384).select(F.col("id").cast("int").alias("slot"))
    mapped = slots.select(
        "slot",
        node_of_slot_col(F.col("slot"), 6).alias("node_from"),
        node_of_slot_col(F.col("slot"), 8).alias("node_to"),
    )
    return (
        mapped.where(F.col("node_from") != F.col("node_to"))
        .groupBy("node_from", "node_to")
        .agg(
            F.count("*").cast("bigint").alias("n_slots"),
            F.min("slot").cast("int").alias("slot_lo"),
            F.max("slot").cast("int").alias("slot_hi"),
        )
        .orderBy("node_from", "node_to")
    )


@query(
    "cluster_resharding_key_impact",
    oracle=(
        "WITH m AS (SELECT "
        f"{node_of_slot_sql(slot_sql('c_name'), 6)} AS node_from, "
        f"{node_of_slot_sql(slot_sql('c_name'), 8)} AS node_to "
        "FROM customer), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m) "
        "SELECT node_from, node_to, CAST(count(*) AS BIGINT) AS n_keys, "
        "(CAST(count(*) AS BIGINT) * 1000) // tot.n AS permille_of_corpus "
        "FROM m CROSS JOIN tot WHERE node_from != node_to "
        "GROUP BY node_from, node_to, tot.n ORDER BY node_from, node_to"
    ),
)
def cluster_resharding_key_impact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The data-weighted companion to cluster_resharding_plan: how many
    ACTUAL keys (customer names through the Tier-A hash) move between
    which node pairs when the cluster grows 6 -> 8, and what share of
    the corpus that is — slot counts price the plan in slots, this
    prices it in rows, which is what the operator migrating data pays.

    Scale: both node mappings are native integer Column expressions over
    one slot evaluation and one scan (no join with the slot table — the
    closed form IS the mapping).  Keys that stay are counted out inside
    the tiny (from, to) rollup: a filter on the node columns would be
    pushed under the slot UDF and run it a second time.
    """
    slotted = _t(spark, sf_dir, "customer").select(
        cluster_slot_col("c_name").alias("slot")
    )
    mapped = slotted.select(
        node_of_slot_col(F.col("slot"), 6).alias("node_from"),
        node_of_slot_col(F.col("slot"), 8).alias("node_to"),
    )
    total = int(mapped.count())
    movers = F.count(F.when(F.col("node_from") != F.col("node_to"), 1))
    return (
        mapped.groupBy("node_from", "node_to")
        .agg(movers.alias("n_keys"))
        .where(F.col("n_keys") > 0)
        .withColumn("permille_of_corpus", F.expr(f"(n_keys * 1000) div {total}"))
        .orderBy("node_from", "node_to")
    )


# One SQL text, two engines: every construct below sits in the portable
# intersection of Spark SQL and DuckDB SQL (CTEs, inner join, window
# row_number, CASE, DECIMAL cents grid, BIGINT casts, ||-free strings).
_PORTABLE_SQL_TEXT = (
    "WITH spend AS ("
    "  SELECT o.o_custkey AS ck, "
    "         CAST(count(*) AS BIGINT) AS n_orders, "
    "         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 "
    "AS BIGINT)) AS BIGINT) AS cents "
    "  FROM orders o GROUP BY o.o_custkey), "
    "ranked AS ("
    "  SELECT c.c_mktsegment AS segment, s.ck, s.n_orders, s.cents, "
    "         row_number() OVER (PARTITION BY c.c_mktsegment "
    "ORDER BY s.cents DESC, s.ck ASC) AS rn "
    "  FROM spend s JOIN customer c ON c.c_custkey = s.ck) "
    "SELECT segment, ck AS custkey, n_orders, cents, "
    "       CASE WHEN rn <= 3 THEN 'top3' ELSE 'rest' END AS tier "
    "FROM ranked WHERE rn <= 5 ORDER BY segment, rn"
)


@query("sql_portable_text_probe", oracle=_PORTABLE_SQL_TEXT)
def sql_portable_text_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text parity probe — the B-surface contract stated in its
    strongest form: ONE verbatim ANSI string (CTEs, aggregate CTE ->
    windowed ranking -> CASE tiering, DECIMAL cents money) is executed
    by ``spark.sql`` here and handed to DuckDB UNCHANGED as its own
    oracle, so the grade pins dialect-intersection compatibility — a
    user of the reference's SQL surface can run this exact text on the
    Spark engine and get byte-identical results (the other catalog
    queries grade semantics through two implementations; this one
    grades the shared SYNTAX too).

    Scale: Catalyst plans the text like any DataFrame build — the CTE
    aggregate partial-aggs map-side, the join broadcasts the customer
    dimension, and the per-segment top-5 window runs on segment
    partitions (WindowGroupLimit prunes losers map-side).
    """
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PORTABLE_SQL_TEXT)


@query(
    "sql_null_semantics_probe",
    oracle=(
        "WITH t AS (SELECT o_orderkey AS k, "
        "NULLIF(o_orderstatus, 'P') AS s, "
        "NULLIF(CAST(o_totalprice AS DECIMAL(18,2)), "
        "CAST(o_totalprice AS DECIMAL(18,2))) AS always_null "
        "FROM orders) "
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(s) AS BIGINT) AS n_nonnull_s, "
        "CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_null_s, "
        "CAST(sum(CASE WHEN s = 'P' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_eq_p, "
        "CAST(sum(CASE WHEN s IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_nullsafe_eq_null, "
        "CAST(sum(CASE WHEN s IN ('F', 'O') THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_in_list, "
        "CAST(sum(CASE WHEN s NOT IN ('F', 'O') THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_not_in_list, "
        "CAST(count(always_null) AS BIGINT) AS n_count_always_null, "
        "CAST(count(DISTINCT s) AS BIGINT) AS n_distinct_s "
        "FROM t"
    ),
)
def sql_null_semantics_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic parity probe — the NULL corners where engines
    historically diverge, graded as one row of counts: COUNT(col) vs
    COUNT(*) (NULL skipping), ``= NULL`` never matching inside CASE,
    null-safe equality (Spark ``<=>`` vs the oracle's ``IS NOT
    DISTINCT FROM``), the NOT IN trap (a NULL operand makes the
    predicate UNKNOWN, so NULL rows count in NEITHER the IN nor the
    NOT IN bucket — the sum of the two columns deliberately undershoots
    n_rows), an always-NULL expression under COUNT, and COUNT(DISTINCT)
    ignoring NULLs.  NULLs derive from the data via NULLIF so the probe
    rides real rows, not literals.

    Scale: one map-side pass — every probe is a conditional counter in
    a single partial aggregate; nothing shuffles but nine counters.
    """
    t = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("nullif(o_orderstatus, 'P')").alias("s"),
        F.expr(
            "nullif(cast(o_totalprice as decimal(18,2)), "
            "cast(o_totalprice as decimal(18,2)))"
        ).alias("always_null"),
    )
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("s").cast("bigint").alias("n_nonnull_s"),
        F.sum(F.col("s").isNull().cast("int")).cast("bigint").alias("n_null_s"),
        F.sum(F.when(F.col("s") == "P", 1).otherwise(0))
        .cast("bigint")
        .alias("n_eq_p"),
        F.sum(F.col("s").eqNullSafe(F.lit(None).cast("string")).cast("int"))
        .cast("bigint")
        .alias("n_nullsafe_eq_null"),
        F.sum(F.when(F.col("s").isin("F", "O"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_list"),
        F.sum(F.when(~F.col("s").isin("F", "O"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_not_in_list"),
        F.count("always_null").cast("bigint").alias("n_count_always_null"),
        F.countDistinct("s").cast("bigint").alias("n_distinct_s"),
    )


# ---------------------------------------------------------------------------
# Alternative placement schemes: rendezvous (HRW) hashing and a
# vnode consistent-hash ring, graded against the slot-based map.
# The reference's domain is Redis-cluster key placement
# (clusterhash_extension.cpp:52-84); these are the two classic
# alternatives every placement design doc compares against.
# ---------------------------------------------------------------------------

_HRW_N = 6
_CUST_KEY_SQL = "'cust:' || c_custkey::VARCHAR"


def _hrw_d_sql(n: int) -> str:
    return (
        f"(('0x' || substr(md5('hrw:{n}|' || key), 1, 15))::BIGINT)"
    )


@query(
    "cluster_rendezvous_placement",
    oracle=(
        f"WITH k AS (SELECT {_CUST_KEY_SQL} AS key FROM customer), "
        "d AS (SELECT key, "
        + ", ".join(f"{_hrw_d_sql(n)} AS d{n}" for n in range(1, _HRW_N + 1))
        + f", {node_sql('key')} AS slot_node FROM k), "
        "w AS (SELECT key, slot_node, CASE "
        + " ".join(
            f"WHEN d{n} = greatest(d1, d2, d3, d4, d5, d6) THEN {n}"
            for n in range(1, _HRW_N + 1)
        )
        + " END AS hrw_node FROM d), "
        "ah AS (SELECT hrw_node AS node_id, CAST(count(*) AS BIGINT) AS hrw_keys, "
        "CAST(sum(CASE WHEN slot_node <> hrw_node THEN 1 ELSE 0 END) AS BIGINT) "
        "AS moved_in_keys FROM w GROUP BY hrw_node), "
        "asl AS (SELECT slot_node AS node_id, CAST(count(*) AS BIGINT) "
        "AS slot_keys FROM w GROUP BY slot_node) "
        "SELECT ah.node_id, ah.hrw_keys, asl.slot_keys, ah.moved_in_keys "
        "FROM ah JOIN asl ON ah.node_id = asl.node_id ORDER BY ah.node_id"
    ),
)
def cluster_rendezvous_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing vs the slot map
    (Thaler & Ravishankar 1998): each key joins the node whose
    md5('hrw:<n>|<key>') digest is largest — no shared table, no
    resharding ranges, and adding a node moves only 1/n of keys.
    Graded per node: HRW key count, slot-map key count, and how many
    HRW-placed keys sit on a different node than the slot map puts
    them (the migration cost of switching schemes).

    Scale: placement is six map-side digest columns + greatest() +
    a CASE argmax — zero shuffles per key; the two 6-row placement
    censuses are map-side-combining groupBys joined on node_id.
    """
    key = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    d = _t(spark, sf_dir, "customer").select(
        key.alias("key"),
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"hrw:{n}|"), key)), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias(f"d{n}")
            for n in range(1, _HRW_N + 1)
        ],
        cluster_node_col(key).alias("slot_node"),
    )
    m = F.greatest(*[F.col(f"d{n}") for n in range(1, _HRW_N + 1)])
    hrw = F.when(F.col("d1") == m, 1)
    for n in range(2, _HRW_N + 1):
        hrw = hrw.when(F.col(f"d{n}") == m, n)
    w = d.select("slot_node", hrw.alias("hrw_node"))
    ah = w.groupBy(F.col("hrw_node").alias("node_id")).agg(
        F.count("*").cast("bigint").alias("hrw_keys"),
        F.sum(F.when(F.col("slot_node") != F.col("hrw_node"), 1).otherwise(0))
        .cast("bigint")
        .alias("moved_in_keys"),
    )
    asl = w.groupBy(F.col("slot_node").alias("node_id")).agg(
        F.count("*").cast("bigint").alias("slot_keys")
    )
    return (
        ah.join(asl, "node_id")
        .select("node_id", "hrw_keys", "slot_keys", "moved_in_keys")
        .orderBy("node_id")
    )


@query(
    "cluster_hashring_vnodes",
    oracle=(
        "WITH vn AS (SELECT t.n AS n, "
        "('0x' || substr(md5('ring:' || t.n || '|' || s.v), 1, 15))::BIGINT "
        "AS pos FROM range(1, 7) t(n), range(1, 33) s(v)), "
        "seg AS (SELECT n, lag(pos, 1, -1) OVER (ORDER BY pos) AS lo, "
        "pos AS hi FROM vn), "
        "wrap AS (SELECT (SELECT n FROM vn ORDER BY pos LIMIT 1) AS n, "
        "(SELECT max(pos) FROM vn) AS lo, ((1::BIGINT) << 62) AS hi), "
        "segs AS (SELECT * FROM seg UNION ALL SELECT * FROM wrap), "
        f"k AS (SELECT ('0x' || substr(md5('key:' || {_CUST_KEY_SQL}), 1, 15))"
        "::BIGINT AS kpos FROM customer), "
        "a AS (SELECT s.n AS node_id, CAST(count(*) AS BIGINT) AS n_keys "
        "FROM k JOIN segs s ON k.kpos > s.lo AND k.kpos <= s.hi "
        "GROUP BY s.n), "
        "tot AS (SELECT sum(n_keys) AS t FROM a) "
        "SELECT CAST(a.node_id AS INTEGER) AS node_id, a.n_keys, "
        "CAST((10000 * a.n_keys) // tot.t AS BIGINT) AS share_bp "
        "FROM a, tot ORDER BY node_id"
    ),
)
def cluster_hashring_vnodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring with 32 virtual nodes per node (Karger et
    al. 1997 / the memcached ketama layout): vnode positions are md5
    digests on a 2^60 ring, each key belongs to the first vnode
    clockwise, and the wraparound arc goes to the globally first
    vnode.  Graded per node: key count and share in basis points —
    the balance-vs-vnode-count tradeoff placement docs measure.

    Scale: the ring has a FIXED 192 vnodes however large the key
    corpus is, so the successor lookup is a broadcast non-equi join
    of keys against the 193-row segment table (one match per key),
    and the census is a map-side-combining groupBy; only 6 rows reach
    the final share window.
    """
    from pyspark.sql.window import Window

    vn = (
        spark.range(0, 192)
        .selectExpr(
            "CAST(id div 32 + 1 AS BIGINT) AS n",
            "CAST(id % 32 + 1 AS BIGINT) AS v",
        )
        .select(
            "n",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ring:"),
                            F.col("n").cast("string"),
                            F.lit("|"),
                            F.col("v").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("pos"),
        )
    )
    seg = vn.select(
        "n",
        F.expr("lag(pos, 1, -1) OVER (ORDER BY pos)").alias("lo"),
        F.col("pos").alias("hi"),
    )
    first = vn.orderBy("pos").limit(1).select("n")
    wrap = first.crossJoin(
        vn.agg(F.max("pos").alias("lo"))
    ).select("n", "lo", F.lit(1 << 62).alias("hi"))
    segs = seg.unionByName(wrap)
    key = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    k = _t(spark, sf_dir, "customer").select(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("key:"), key)), 1, 15), 16, 10
        )
        .cast("long")
        .alias("kpos")
    )
    a = (
        k.join(
            F.broadcast(segs),
            (F.col("kpos") > F.col("lo")) & (F.col("kpos") <= F.col("hi")),
        )
        .groupBy(F.col("n").alias("node_id"))
        .agg(F.count("*").cast("bigint").alias("n_keys"))
    )
    total = F.sum("n_keys").over(Window.partitionBy())
    num = (10000 * F.col("n_keys")).cast("long")
    return a.select(
        F.col("node_id").cast("int").alias("node_id"),
        "n_keys",
        ((num - F.pmod(num, total)) / total).cast("long").alias("share_bp"),
    ).orderBy("node_id")
