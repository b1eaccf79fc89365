"""Tier B — star-schema analytics beyond the TPC-H suite: windows,
rankings, grouping sets, set ops, distribution/bucketing studies.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark.plans._registry import _money_sum, _t, query
from duckdb_cluster_hash_spark.streaming.events import scratch_dir


def _copurchase_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical (p1 < p2) part co-purchase edges, memoized per
    session via ``dedup._shared_checkpoint`` (the session memo, weakly
    keyed on the lineitem table object, cleared by
    ``clear_shared_cache``).

    Both iterative part-graph queries (k-core, link prediction) peel
    exactly this table; before round 14 each rebuilt it — the basket
    self-join + distinct is the single most expensive subtree of either
    query, paid twice per suite.  At true 100 TB the equivalent is a
    materialized edge table built once per corpus snapshot.  No
    pre-distinct of (o, p): the pair set is distinct'd after the join,
    so a pre-dedup would only add a full |lineitem| exchange (the
    self-join keys on ``o``, which a (o, p) hash layout cannot feed).
    """
    from duckdb_cluster_hash_spark.operators import dedup as _dd

    li = _t(spark, sf_dir, "lineitem")

    def build() -> DataFrame:
        op = li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        a, b = op.alias("a"), op.alias("b")
        return (
            a.join(
                b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
            )
            .select(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
            .distinct()
        )

    return _dd._shared_checkpoint(li, ("copurchase_part_edges",), build)


def _order_brand_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (order, brand) basket table, memoized per session — the
    shared root of the three brand-graph queries (PageRank, triangles,
    co-purchase affinity), each of which re-derived the lineitem ⋈ part
    join + distinct before round 14."""
    from duckdb_cluster_hash_spark.operators import dedup as _dd

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")

    def build() -> DataFrame:
        return (
            li.select("l_orderkey", "l_partkey")
            .join(
                part.select("p_partkey", "p_brand"),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
            .distinct()
        )

    return _dd._shared_checkpoint(li, ("order_brand_basket",), build)


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical (u < v) brand co-purchase edges from the
    memoized basket, memoized per session.  Triangles use it directly;
    PageRank derives its directed edge list as the union of both
    orientations (distinct u<v pairs -> distinct src!=dst pairs,
    exactly the per-query build it replaces)."""
    from duckdb_cluster_hash_spark.operators import dedup as _dd

    li = _t(spark, sf_dir, "lineitem")

    def build() -> DataFrame:
        ob = _order_brand_basket(spark, sf_dir)
        a, c = ob.alias("a"), ob.alias("c")
        return (
            a.join(
                c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b"))
            )
            .select(F.col("a.b").alias("u"), F.col("c.b").alias("v"))
            .distinct()
        )

    return _dd._shared_checkpoint(li, ("brand_edges",), build)


@query(
    "lineitem_priority_channels",
    oracle=(
        "SELECT l_linestatus, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
        "GROUP BY l_linestatus ORDER BY l_linestatus"
    ),
)
def lineitem_priority_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + two conditional-count channels
    (one pass, no per-channel re-scan)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "orders_grouping_sets",
    oracle=(
        "WITH o AS (SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS order_year, "
        "o_totalprice FROM orders) "
        "SELECT o_orderpriority, order_year, "
        "CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri, "
        "CAST(GROUPING(order_year) AS INTEGER) AS g_year, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price "
        "FROM o GROUP BY GROUPING SETS ((o_orderpriority, order_year), "
        "(o_orderpriority), (order_year), ()) "
        "ORDER BY g_pri, g_year, o_orderpriority, order_year"
    ),
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregate via GROUPING SETS (beyond ROLLUP/CUBE:
    an explicit lattice) with GROUPING() null-vs-subtotal markers.  One
    shuffle; Spark expands the sets map-side."""
    _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_totalprice",
    ).createOrReplaceTempView("_gs_orders")
    return spark.sql(
        "SELECT o_orderpriority, order_year, "
        "CAST(grouping(o_orderpriority) AS INT) AS g_pri, "
        "CAST(grouping(order_year) AS INT) AS g_year, "
        "count(*) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price "
        "FROM _gs_orders GROUP BY GROUPING SETS ((o_orderpriority, order_year), "
        "(o_orderpriority), (order_year), ()) "
        "ORDER BY g_pri, g_year, o_orderpriority, order_year"
    )


@query(
    "customer_spend_deciles",
    oracle=(
        "WITH spend AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s "
        "FROM orders GROUP BY o_custkey), "
        "d AS (SELECT o_custkey, s, CAST(ntile(10) OVER (ORDER BY s DESC, o_custkey) AS INTEGER) AS decile FROM spend) "
        "SELECT decile, CAST(count(*) AS BIGINT) AS n_customers, "
        "CAST(round(sum(s), 2) AS DOUBLE) AS decile_spend "
        "FROM d GROUP BY decile ORDER BY decile"
    ),
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile segmentation over exact-decimal customer spend.
    The sort key is DECIMAL (exact) with custkey tie-break, so the decile
    boundaries are deterministic across engines.

    Scale: a bare ``ntile(10) OVER (ORDER BY ...)`` (what the oracle
    runs) is an Exchange SinglePartition — every customer through one
    reducer.  This uses operators/ranking.ntile_exact instead: range
    repartition + parallel per-partition row_numbers + a broadcast
    256-row offset table, reproducing SQL ntile's exact allocation with
    only the offsets table globally ordered.
    """
    from duckdb_cluster_hash_spark.operators.ranking import ntile_exact

    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"))
    )
    d = ntile_exact(
        spend, [F.desc("s"), F.asc("o_custkey")], 10, out_col="decile"
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("s"), 2).cast("double").alias("decile_spend"),
        )
        .orderBy("decile")
    )


@query(
    "part_price_histogram",
    oracle=(
        "WITH b AS (SELECT CAST(LEAST(CAST(floor((p_retailprice - 900.0) / 10.0) AS INTEGER), 9) AS INTEGER) AS bucket, "
        "p_retailprice FROM part) "
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n_parts, "
        "CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS bucket_value "
        "FROM b GROUP BY bucket ORDER BY bucket"
    ),
)
def part_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram via arithmetic bucketing (floor of an
    exact double division — bit-identical across engines)."""
    part = _t(spark, sf_dir, "part")
    bucket = F.least(
        F.floor((F.col("p_retailprice") - 900.0) / 10.0).cast("int"), F.lit(9)
    )
    return (
        part.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum(F.col("p_retailprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("bucket_value"),
        )
        .orderBy("bucket")
    )


@query(
    "nation_top_customers_window",
    oracle=(
        "WITH spend AS ("
        "  SELECT c_custkey, c_name, c_nationkey, "
        "         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_exact "
        "  FROM customer JOIN orders ON c_custkey = o_custkey "
        "  GROUP BY c_custkey, c_name, c_nationkey), "
        "ranked AS ("
        "  SELECT n_name, c_name, spend_exact, "
        "         rank() OVER (PARTITION BY n_name ORDER BY spend_exact DESC, c_custkey) AS rnk "
        "  FROM spend JOIN nation ON c_nationkey = n_nationkey) "
        "SELECT n_name, c_name, round(CAST(spend_exact AS DOUBLE), 2) AS spend, "
        "CAST(rnk AS INTEGER) AS rnk "
        "FROM ranked WHERE rnk <= 3 ORDER BY n_name, rnk"
    ),
)
def nation_top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: rank-per-group with deterministic ties."""
    from pyspark.sql.window import Window

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend_exact"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("spend_exact"), F.asc("c_custkey")
    )
    return (
        spend.join(F.broadcast(nation), spend.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_name", "spend_exact", F.rank().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_name",
            F.round(F.col("spend_exact"), 2).cast("double").alias("spend"),
            "rnk",
        )
        .orderBy("n_name", "rnk")
    )


@query(
    "orders_monthly_priority",
    oracle=(
        "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month, "
        "o_orderpriority, count(*) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price "
        "FROM orders GROUP BY order_month, o_orderpriority "
        "ORDER BY order_month, o_orderpriority"
    ),
)
def orders_monthly_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: date_trunc month x priority."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            _money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_month", "o_orderpriority")
    )


@query(
    "orders_without_lineitems",
    oracle=(
        "SELECT o_orderstatus, count(*) AS n_orders FROM orders "
        "WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT IN subquery shape) - orders with no line items."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderstatus")
    )


@query(
    "active_multiline_customers",
    oracle=(
        "SELECT count(*) AS n_customers FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_totalprice > 100000)"
    ),
)
def active_multiline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (correlated EXISTS shape)."""
    cust = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 100000)
        .select("o_custkey")
    )
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "brand_type_setops",
    oracle=(
        "SELECT p_brand, count(*) AS n_parts FROM part "
        "WHERE p_partkey IN ("
        "  SELECT p_partkey FROM part WHERE p_size > 20 "
        "  INTERSECT SELECT p_partkey FROM part WHERE p_retailprice > 1200 "
        "  UNION SELECT p_partkey FROM part WHERE p_size < 3) "
        "GROUP BY p_brand ORDER BY p_brand"
    ),
)
def brand_type_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT + UNION over key sets."""
    part = _t(spark, sf_dir, "part")
    big = part.where(F.col("p_size") > 20).select("p_partkey")
    pricey = part.where(F.col("p_retailprice") > 1200).select("p_partkey")
    tiny = part.where(F.col("p_size") < 3).select("p_partkey")
    keys = big.intersect(pricey).union(tiny).distinct()
    return (
        part.join(keys, "p_partkey")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


@query(
    "lineitem_quantity_quartiles",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(quantile_disc(l_quantity, 0.25) AS DOUBLE) AS q1, "
        "CAST(quantile_disc(l_quantity, 0.50) AS DOUBLE) AS q2, "
        "CAST(quantile_disc(l_quantity, 0.75) AS DOUBLE) AS q3 "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
)
def lineitem_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete quantiles (C8): percentile_approx in exact mode matches
    DuckDB's quantile_disc on exact values.

    One sketch, three percentiles: the array form keeps a single exact
    buffer per group instead of three (3x the aggregation state and CPU
    for identical output).  Exact-mode percentile state is O(distinct
    values) per group — fine for a bounded domain like quantity; for
    unbounded measures at 100 TB use the approx accuracy knob instead.
    """
    li = _t(spark, sf_dir, "lineitem")
    qs = F.expr(
        "percentile_approx(l_quantity, array(0.25D, 0.50D, 0.75D), 2147483647)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("_qs"))
        .select(
            "l_returnflag",
            F.col("_qs")[0].cast("double").alias("q1"),
            F.col("_qs")[1].cast("double").alias("q2"),
            F.col("_qs")[2].cast("double").alias("q3"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "customer_running_spend",
    oracle=(
        "WITH o AS (SELECT o_custkey, o_orderkey, "
        "CAST(o_orderdate AS DATE) AS od, "
        "CAST(o_totalprice AS DECIMAL(18,4)) AS p FROM orders) "
        "SELECT o_custkey, o_orderkey, od AS order_date, "
        "CAST(round(sum(p) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey "
        "ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_spend, "
        "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) "
        "AS INTEGER) AS order_seq "
        "FROM o"
    ),
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total window frame (ROWS UNBOUNDED PRECEDING) + row_number."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("p"),
    )
    w = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "order_date",
        F.round(F.sum("p").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "orders_rollup_year_priority",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority, "
        "count(*) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price "
        "FROM orders GROUP BY ROLLUP (order_year, o_orderpriority) "
        "ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST"
    ),
)
def orders_rollup_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total), NULL-keyed."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            _money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy(
            F.col("order_year").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "orders_trailing_3mo_revenue",
    oracle=(
        "WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS month_idx, "
        "o_orderpriority AS priority, "
        "sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev "
        "FROM orders GROUP BY month_idx, priority) "
        "SELECT month_idx, priority, "
        "CAST(round(rev, 2) AS DOUBLE) AS month_revenue, "
        "CAST(round(sum(rev) OVER (PARTITION BY priority ORDER BY month_idx "
        "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing_3mo "
        "FROM m ORDER BY priority, month_idx"
    ),
)
def orders_trailing_3mo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over a numeric month index: per-priority monthly
    revenue with a trailing-3-calendar-month total (RANGE, not ROWS — a
    missing month must still count as a frame gap).

    Scale: the window runs over the pre-aggregated per-(month, priority)
    rollup — thousands of rows at any corpus size — never the raw fact;
    one shuffle for the rollup, one tiny one for the window partitions.
    The frame sums are DECIMAL-exact before the final rounding.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("month_idx"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    w = (
        Window.partitionBy("priority")
        .orderBy("month_idx")
        .rangeBetween(-2, Window.currentRow)
    )
    return m.select(
        "month_idx",
        "priority",
        F.round(F.col("rev"), 2).cast("double").alias("month_revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("trailing_3mo"),
    ).orderBy("priority", "month_idx")


@query(
    "part_size_unpivot_profile",
    oracle=(
        "WITH wide AS (SELECT p_brand, "
        "count(*) FILTER (p_size <= 10) AS small_n, "
        "count(*) FILTER (p_size > 10 AND p_size <= 30) AS mid_n, "
        "count(*) FILTER (p_size > 30) AS large_n "
        "FROM part GROUP BY p_brand) "
        "SELECT p_brand, size_class, CAST(n AS BIGINT) AS n FROM wide "
        "UNPIVOT (n FOR size_class IN (small_n AS 'small', mid_n AS 'mid', large_n AS 'large')) "
        "ORDER BY p_brand, size_class"
    ),
)
def part_size_unpivot_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long UNPIVOT (Spark ``unpivot`` / SQL ``stack``): per-brand
    size-class counts melted to (brand, size_class, n) rows.

    Scale: the unpivot runs on the aggregated wide table (|brands| rows),
    a constant-factor row expansion with no shuffle of its own.
    """
    part = _t(spark, sf_dir, "part")
    wide = part.groupBy("p_brand").agg(
        F.count(F.when(F.col("p_size") <= 10, 1)).alias("small"),
        F.count(F.when((F.col("p_size") > 10) & (F.col("p_size") <= 30), 1)).alias(
            "mid"
        ),
        F.count(F.when(F.col("p_size") > 30, 1)).alias("large"),
    )
    return (
        wide.unpivot("p_brand", ["small", "mid", "large"], "size_class", "n")
        .orderBy("p_brand", "size_class")
    )


@query(
    "orders_bucketed_coloc_join",
    oracle=(
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
)
def orders_bucketed_coloc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketing (the 100 TB layout story):
    both sides written ``bucketBy(custkey)`` into warehouse tables, then
    joined WITHOUT either shuffle — bucket files align 1:1, so the sort
    merge join reads matching buckets in place (Exchange-free plan gated
    in tests/test_plans.py::test_bucketed_join_avoids_shuffle).

    At 100 TB this one-off layout cost amortizes across every
    custkey-join afterwards — the write is this query's dominant cost
    and the probe side of the trade.  The oracle is the plain join over
    the original parquet: bucketing is layout, never semantics.
    """
    import os as _os
    import shutil as _shutil

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    loc_orders = scratch_dir("bkt_orders", sf_dir)
    loc_cust = scratch_dir("bkt_cust", sf_dir)
    t_orders, t_cust = _os.path.basename(loc_orders), _os.path.basename(loc_cust)
    # external locations under tmp: DROP TABLE in a fresh session cannot
    # see a previous process's managed-table directory, which then fails
    # the write with LOCATION_ALREADY_EXISTS — so own the location
    # explicitly and clear it before each (re)build
    for loc, df_side, bucket_col in (
        (loc_orders, orders.select("o_custkey", "o_totalprice"), "o_custkey"),
        (loc_cust, cust.select("c_custkey", "c_mktsegment"), "c_custkey"),
    ):
        t = _os.path.basename(loc)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(loc, ignore_errors=True)
        df_side.write.bucketBy(8, bucket_col).sortBy(bucket_col).option(
            "path", loc
        ).saveAsTable(t)
    return (
        spark.table(t_orders)
        .hint("merge")  # keep the bucket-aligned SMJ even if AQE prefers BHJ
        .join(spark.table(t_cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _money_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "orders_reorder_intervals",
    oracle=(
        "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, "
        "o_orderkey FROM orders), "
        "g AS (SELECT o_custkey, date_diff('day', lag(d) OVER "
        "(PARTITION BY o_custkey ORDER BY d, o_orderkey), d) AS gap FROM o), "
        "pc AS (SELECT o_custkey, CAST(sum(gap) AS BIGINT) AS sum_gap, "
        "CAST(count(gap) AS BIGINT) AS n_gaps, "
        "CAST(max(gap) AS BIGINT) AS max_gap "
        "FROM g WHERE gap IS NOT NULL GROUP BY o_custkey) "
        "SELECT c.c_mktsegment AS segment, "
        "CAST(count(*) AS BIGINT) AS n_repeat_customers, "
        "CAST(sum(pc.n_gaps) AS BIGINT) AS n_gaps, "
        "(CAST(sum(pc.sum_gap) AS BIGINT) * 10) // "
        "CAST(sum(pc.n_gaps) AS BIGINT) AS avg_gap_days_x10, "
        "CAST(max(pc.max_gap) AS BIGINT) AS max_gap_days "
        "FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment ORDER BY segment"
    ),
)
def orders_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap profile per market segment: for customers with
    2+ orders, the day gaps between consecutive orders (lag window,
    (date, orderkey)-tie-broken), rolled up to per-segment repeat-buyer
    counts and an integer deci-day average — purchase-cadence analytics.

    Scale: gaps aggregate to ONE row per customer before the customer
    join (the join input shrinks from |orders| to |repeat customers|);
    the lag window shuffles orders once on the customer key; the final
    segment rollup is a 5-group partial agg.  Integer sum*10 div count
    keeps the average cross-engine exact.
    """
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    lag_d = F.lag("d").over(
        Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    )
    gaps = orders.withColumn("gap", F.datediff(F.col("d"), lag_d)).where(
        F.col("gap").isNotNull()
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.sum("gap").cast("bigint").alias("sum_gap"),
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.max("gap").cast("bigint").alias("max_gap"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        per_cust.join(
            cust, per_cust.o_custkey == cust.c_custkey, "inner"
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_repeat_customers"),
            F.sum("n_gaps").cast("bigint").alias("n_gaps"),
            F.expr("(sum(sum_gap) * 10) div sum(n_gaps)").alias(
                "avg_gap_days_x10"
            ),
            F.max("max_gap").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("segment")
    )


@query(
    "parts_copurchase_affinity",
    oracle=(
        "WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), "
        "n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob), "
        "cx AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM ob GROUP BY b), "
        "pr AS (SELECT a.b AS b1, c.b AS b2, CAST(count(*) AS BIGINT) AS c_xy "
        "FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b GROUP BY a.b, c.b) "
        "SELECT pr.b1, pr.b2, pr.c_xy, "
        "(pr.c_xy * n.n_orders * 1000) // (x1.c * x2.c) AS lift_x1000 "
        "FROM pr JOIN cx x1 ON pr.b1 = x1.b JOIN cx x2 ON pr.b2 = x2.b "
        "CROSS JOIN n WHERE pr.c_xy >= 5 "
        "ORDER BY lift_x1000 DESC, b1, b2 LIMIT 15"
    ),
)
def parts_copurchase_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: which part brands are co-purchased in the
    same order more than their popularity predicts, by integer lift
    (same milli-unit PMI argument as docs_bigram_collocations) with a
    min-support floor — the recommendation/assortment signal.

    Scale: the pair generation self-joins the DISTINCT (order, brand)
    table (session-memoized, shared with PageRank/triangles — r14)
    keyed on the ORDER key, so the blow-up per order is bounded by
    the basket's brand count (TPC-H: <= 7 lines/order), never all-pairs
    over brands or orders; brand totals join on the 25-value brand key;
    the order-count scalar comes from one small aggregate.
    """
    ob = _order_brand_basket(spark, sf_dir)
    n_orders = int(ob.select(F.countDistinct("o")).head()[0])
    a, c = ob.alias("a"), ob.alias("c")
    pairs = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"))
        .agg(F.count("*").cast("bigint").alias("c_xy"))
    )
    cx = ob.groupBy("b").agg(F.count("*").cast("bigint").alias("c"))
    scored = (
        pairs.where(F.col("c_xy") >= 5)
        .join(cx.withColumnRenamed("b", "b1").withColumnRenamed("c", "c1"), "b1")
        .join(cx.withColumnRenamed("b", "b2").withColumnRenamed("c", "c2"), "b2")
        .withColumn(
            "lift_x1000", F.expr(f"(c_xy * {n_orders} * 1000) div (c1 * c2)")
        )
    )
    return (
        scored.select("b1", "b2", "c_xy", "lift_x1000")
        .orderBy(F.desc("lift_x1000"), F.asc("b1"), F.asc("b2"))
        .limit(15)
    )


@query(
    "supplier_pareto_abc",
    oracle=(
        "WITH s AS (SELECT s_suppkey, "
        "CAST(round(s_acctbal * 100) AS BIGINT) AS cents FROM supplier), "
        "tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM s), "
        "c AS (SELECT s_suppkey, cents, sum(cents) OVER "
        "(ORDER BY cents DESC, s_suppkey ROWS UNBOUNDED PRECEDING) AS cum "
        "FROM s), "
        "k AS (SELECT cents, CASE WHEN cum * 100 <= 80 * tot.total THEN 'A' "
        "WHEN cum * 100 <= 95 * tot.total THEN 'B' ELSE 'C' END AS abc_class "
        "FROM c CROSS JOIN tot) "
        "SELECT abc_class, CAST(count(*) AS BIGINT) AS n_suppliers, "
        "CAST(sum(cents) AS BIGINT) AS class_cents, "
        "(CAST(sum(cents) AS BIGINT) * 10000) // (SELECT total FROM tot) "
        "AS share_bp FROM k GROUP BY abc_class ORDER BY abc_class"
    ),
)
def supplier_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of suppliers by account balance:
    A-class until 80% of the cumulative total, B until 95%, C after —
    the inventory-management 80/20 cut, on exact integer cents.

    Scale: the cumulative share uses ranking.ordered_prefix_sum — range
    partition on (cents desc, suppkey), parallel local running sums,
    broadcast bucket offsets — so no supplier-wide single-partition
    window; only the 256-row bucket-totals table is globally ordered.
    The class rollup is a 3-group partial aggregation.
    """
    from duckdb_cluster_hash_spark.operators.ranking import ordered_prefix_sum

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("cents"),
    )
    total = int(sup.agg(F.sum("cents").cast("bigint")).head()[0])
    cum = ordered_prefix_sum(
        sup, [F.desc("cents"), F.asc("s_suppkey")], "cents", out_col="cum"
    )
    klass = cum.withColumn(
        "abc_class",
        F.when(F.col("cum") * 100 <= 80 * total, F.lit("A"))
        .when(F.col("cum") * 100 <= 95 * total, F.lit("B"))
        .otherwise(F.lit("C")),
    )
    return (
        klass.groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("cents").cast("bigint").alias("class_cents"),
            F.expr(f"(sum(cents) * 10000) div {total}").alias("share_bp"),
        )
        .orderBy("abc_class")
    )


@query(
    "lineitem_price_approx_median_contract",
    oracle=(
        # contract oracle (implementation-specific sketch value): the
        # approximate median's EXACT rank must sit within the published
        # accuracy bound; the oracle pins n and the expected verdict.
        "SELECT CAST(count(*) AS BIGINT) AS n, true AS ok FROM lineitem"
    ),
)
def lineitem_price_approx_median_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUE approximate median of l_extendedprice (the C8 sketch mode
    the exact-quartiles query's docstring defers to at 100 TB), graded
    by CONTRACT: percentile_approx with accuracy 10000 guarantees the
    returned value's exact rank is within n/10000 of the target, and the
    query re-derives that rank with a second aggregation and emits the
    verdict — same shape as events_hll_shard_distinct.

    Scale: the sketch is one mergeable aggregation buffer per partial
    (bounded state, unlike exact mode's O(distinct) buffer); the rank
    check is a broadcast of the 1-row sketch value into a count
    aggregate.  The slack doubles the published bound to keep the gate
    deterministic-noise-free.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    v = float(
        li.agg(
            F.expr("percentile_approx(l_extendedprice, 0.5D, 10000)")
        ).head()[0]
    )
    return li.agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.abs(
                2 * F.sum((F.col("l_extendedprice") <= F.lit(v)).cast("bigint"))
                - F.count("*")
            )
            * 10000
            <= 4 * F.count("*") + 20000
        ).alias("ok"),
    )


@query(
    "part_size_percent_rank",
    oracle=(
        "WITH r AS (SELECT p_brand, p_size, "
        "rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS rk, "
        "count(*) OVER (PARTITION BY p_brand) AS n FROM part) "
        "SELECT p_brand, p_size, CAST(count(*) AS BIGINT) AS n_parts, "
        "CASE WHEN max(n) > 1 THEN ((min(rk) - 1) * 10000) // (max(n) - 1) "
        "ELSE 0 END AS pr_bp "
        "FROM r GROUP BY p_brand, p_size ORDER BY p_brand, p_size"
    ),
)
def part_size_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank in exact basis points: for each (brand, size), the
    SQL-standard (rank-1)/(n-1) scaled to integer ``div`` so both
    engines agree at every tie (rank(), not row_number, so equal sizes
    share a rank) — the distribution-profile form of the window-function
    surface.

    Scale: the rank window partitions by brand; output cardinality is
    domain-bounded (|brands| x |sizes|), independent of row count, and
    the final rollup is a keyed partial aggregation.
    """
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part").select("p_brand", "p_size")
    w = Window.partitionBy("p_brand").orderBy("p_size")
    r = part.withColumn("rk", F.rank().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("p_brand"))
    )
    return (
        r.groupBy("p_brand", "p_size")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.when(
                F.max("n") > 1,
                F.expr("((min(rk) - 1) * 10000) div (max(n) - 1)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("pr_bp"),
        )
        .orderBy("p_brand", "p_size")
    )


@query(
    "customer_rfm_segments",
    oracle=(
        "WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS rd FROM orders), "
        "base AS (SELECT o_custkey, "
        "date_diff('day', max(CAST(o_orderdate AS DATE)), (SELECT rd FROM ref)) "
        "AS recency, CAST(count(*) AS BIGINT) AS frequency, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        "AS monetary_cents FROM orders GROUP BY o_custkey), "
        "t AS (SELECT o_custkey, recency, frequency, monetary_cents, "
        "ntile(5) OVER (ORDER BY recency, o_custkey) AS r_tile, "
        "ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_tile, "
        "ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_tile "
        "FROM base) "
        "SELECT r_tile::INTEGER AS r_tile, f_tile::INTEGER AS f_tile, "
        "m_tile::INTEGER AS m_tile, CAST(count(*) AS BIGINT) AS n_customers, "
        "CAST(sum(monetary_cents) AS BIGINT) AS segment_cents "
        "FROM t GROUP BY r_tile, f_tile, m_tile "
        "ORDER BY r_tile, f_tile, m_tile"
    ),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles — the
    classic CRM cohorting): each buying customer gets three exact ntile
    ranks and the catalog reports the (r, f, m) cell census.  All three
    measures are integers (days, counts, cents) and each quintile uses
    the SQL-standard allocation via ranking.ntile_exact, so the 125-cell
    census matches DuckDB's three ntile windows bit-for-bit.

    Scale: the per-customer rollup shrinks orders first; each quintile
    is the two-level range-partitioned ranking (no customer-wide
    single-partition sort — only the three 256-row offsets tables are
    globally ordered); the final census is a tiny keyed aggregation.
    """
    from duckdb_cluster_hash_spark.operators.ranking import ntile_exact

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # reference date folded IN-PLAN (r15): the old driver-side
    # `orders.agg(max(d)).head()` probe was one more serialized action
    # waiting a FAIR-queue turn per bench run; a broadcast 1-row global
    # max joined onto the per-customer rollup computes the identical
    # datediff without any extra driver round-trip.
    ref_df = orders.agg(F.max("d").alias("ref_d"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum("cents").cast("bigint").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(ref_df))
        .select(
            "o_custkey",
            F.datediff(F.col("ref_d"), F.col("last_d"))
            .cast("bigint")
            .alias("recency"),
            "frequency",
            "monetary_cents",
        )
    )
    # THREE INDEPENDENT rankings joined on the key, not a 3-deep chain:
    # chaining ntile_exact re-references each level's subtree three
    # times (local ranks, counts, offsets), so three levels re-execute
    # the base rollup 3^3 times; independent rankings keep each subtree
    # at fan-out 3 and the custkey joins are cheap dimension-sized hash
    # joins.  64 range buckets per ranking covers ~2.5e8 customers of
    # bucket-sort budget — the customer dim, not the fact table, ranks.
    r = ntile_exact(
        base.select("o_custkey", "recency"),
        [F.asc("recency"), F.asc("o_custkey")], 5,
        n_buckets=64, out_col="r_tile",
    ).select("o_custkey", "r_tile")
    f = ntile_exact(
        base.select("o_custkey", "frequency"),
        [F.desc("frequency"), F.asc("o_custkey")], 5,
        n_buckets=64, out_col="f_tile",
    ).select("o_custkey", "f_tile")
    m = ntile_exact(
        base.select("o_custkey", "monetary_cents"),
        [F.desc("monetary_cents"), F.asc("o_custkey")], 5,
        n_buckets=64, out_col="m_tile",
    ).select("o_custkey", "monetary_cents", "m_tile")
    t = r.join(f, "o_custkey").join(m, "o_custkey")
    return (
        t.groupBy("r_tile", "f_tile", "m_tile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r_tile", "f_tile", "m_tile")
    )


@query(
    "lineitem_discount_quantity_ols",
    oracle=(
        "WITH s AS (SELECT l_returnflag, "
        "CAST(count(*) AS HUGEINT) AS n, "
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT) AS sx, "
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS sy, "
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT) * "
        "CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS sxy, "
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT) * "
        "CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT) AS sxx "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows, "
        "CAST(((n * sxy - sx * sy) * 1000000) // nullif(n * sxx - sx * sx, 0) "
        "AS BIGINT) AS slope_micro, "
        "CAST(((sy * sxx - sx * sxy) * 1000000) // nullif(n * sxx - sx * sx, 0) "
        "AS BIGINT) AS intercept_micro "
        "FROM s ORDER BY l_returnflag"
    ),
)
def lineitem_discount_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form OLS regression (quantity ~ discount) per return
    flag, in pure integer arithmetic: x = discount in percent points,
    y = rounded quantity, slope/intercept in micro-units via the normal
    equations — distributed "learning" with NO floating point anywhere,
    so the cross-engine hash equality is exact, not tolerance-based.

    Overflow headroom: the five sufficient statistics are bigint sums
    widened to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) BEFORE the
    normal-equation products — (n*sxy)*1e6 exceeds int64 beyond ~1M
    rows/group, and 128-bit headroom covers any realistic shard.  Both
    engines truncate integer division toward zero (file-header rule),
    so negative slopes stay bit-identical.  A degenerate group (all
    discounts equal → zero denominator) yields NULL on both engines via
    NULLIF — Spark's div returns NULL on /0 while DuckDB's // raises,
    so the guard is what keeps the two sides identical under corpus
    drift.

    Scale: one keyed partial aggregation collapses the fact table to
    |groups| sufficient-statistic rows — the map-side-combine regression
    pattern; adding regressors adds columns, not passes.
    """
    x = F.round(F.col("l_discount") * 100).cast("bigint")
    y = F.round(F.col("l_quantity")).cast("bigint")
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum(x).cast("decimal(38,0)").alias("sx"),
            F.sum(y).cast("decimal(38,0)").alias("sy"),
            F.sum(x * y).cast("decimal(38,0)").alias("sxy"),
            F.sum(x * x).cast("decimal(38,0)").alias("sxx"),
        )
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(((n * sxy - sx * sy) * 1000000) div nullif(n * sxx - sx * sx, 0) "
            "AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST(((sy * sxx - sx * sxy) * 1000000) div nullif(n * sxx - sx * sx, 0) "
            "AS BIGINT)"
        ).alias("intercept_micro"),
    ).orderBy("l_returnflag")


@query(
    "orders_cube_status_priority",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) "
        "AS BIGINT) AS gid, "
        "count(*) AS n_orders, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_price "
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) "
        "ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"
    ),
)
def orders_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (B8 completion: GROUP BY / GROUPING SETS /
    ROLLUP are graded elsewhere, CUBE closes the family): all four
    (status, priority) marginal combinations in one pass, with
    ``grouping_id`` disambiguating a NULL key from a rolled-up level.

    Scale: Catalyst expands CUBE into a single Expand + one hash
    aggregate — one shuffle regardless of how many grouping sets, which
    is exactly why CUBE beats unioning four separate aggregates.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_orders"),
            _money_sum("o_totalprice").alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def _pagerank_oracle_sql(iters: int = 3) -> str:
    head = (
        "WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), "
        "e AS (SELECT a.b AS src, c.b AS dst FROM ob a "
        "JOIN ob c ON a.o = c.o AND a.b <> c.b GROUP BY src, dst), "
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src), "
        "nodes AS (SELECT DISTINCT b FROM ob), "
        "r0 AS (SELECT b, CAST(1000 AS BIGINT) AS r FROM nodes)"
    )
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f", r{i} AS (SELECT n.b, CAST(150 + (850 * coalesce(t.s, 0)) "
            "// 1000 AS BIGINT) AS r FROM nodes n LEFT JOIN "
            f"(SELECT e.dst AS b, CAST(sum(r{i-1}.r // deg.d) AS BIGINT) AS s "
            f"FROM e JOIN r{i-1} ON r{i-1}.b = e.src "
            "JOIN deg ON deg.src = e.src GROUP BY e.dst) t ON t.b = n.b)"
        )
    return (
        head
        + "".join(steps)
        + f" SELECT n.b AS p_brand, r{iters}.r AS rank_milli, "
        "CAST(coalesce(deg.d, 0) AS BIGINT) AS degree "
        f"FROM nodes n JOIN r{iters} ON r{iters}.b = n.b "
        "LEFT JOIN deg ON deg.src = n.b "
        "ORDER BY rank_milli DESC, p_brand"
    )


@query("parts_brand_pagerank", oracle=_pagerank_oracle_sql())
def parts_brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank on the brand co-purchase graph — the second
    iterative graph algorithm next to connected components, in
    EXACT truncated-integer arithmetic so every iteration is
    bit-portable: r_{k+1}(b) = 150 + (850 * sum over in-neighbors of
    (r_k(u) div deg(u))) div 1000, three unrolled iterations from
    r_0 = 1000 milli (damping 0.85; the oracle unrolls the same three
    CTE steps, so equality pins the whole trajectory, not just a fixed
    point).

    Scale: the rank vector is |nodes| rows — broadcast against the
    edge list each iteration (Catalyst picks broadcast at this size;
    at web scale the same loop is edges-partitioned shuffle joins, one
    per iteration exactly like the components operator); edges derive
    from the session-memoized canonical brand edge set (built once from
    the DISTINCT (order, brand) table keyed on the order —
    basket-bounded, never all-pairs — and shared with triangles, r14).
    """
    ob = _order_brand_basket(spark, sf_dir)
    # Directed edge list = both orientations of the memoized canonical
    # (u < v) edge set — identical to the old per-query self-join with
    # b != b' + distinct, without re-running the basket join (r14).
    be = _brand_edges(spark, sf_dir)
    edges = be.selectExpr("u AS src", "v AS dst").unionByName(
        be.selectExpr("v AS src", "u AS dst")
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    nodes = ob.select("b").distinct()
    # edges ⋈ deg is loop-invariant: materialize it once so three
    # iterations reuse one build instead of recomputing the basket join
    contrib_base = edges.join(deg, "src").localCheckpoint(eager=True)
    ranks = nodes.select("b", F.lit(1000).cast("bigint").alias("r"))
    for _ in range(3):
        s = (
            contrib_base.join(
                F.broadcast(ranks.withColumnRenamed("b", "src")), "src"
            )
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = nodes.join(s, nodes.b == s.dst, "left").select(
            "b",
            (F.lit(150) + F.expr("(850 * coalesce(s, 0)) div 1000"))
            .cast("bigint")
            .alias("r"),
        )
    return (
        ranks.join(deg, ranks.b == deg.src, "left")
        .select(
            F.col("b").alias("p_brand"),
            F.col("r").alias("rank_milli"),
            F.coalesce("d", F.lit(0)).cast("bigint").alias("degree"),
        )
        .orderBy(F.desc("rank_milli"), F.asc("p_brand"))
    )


def _triangle_oracle_sql() -> str:
    return (
        "WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), "
        "e AS (SELECT a.b AS u, c.b AS v FROM ob a JOIN ob c "
        "ON a.o = c.o AND a.b < c.b GROUP BY u, v), "
        "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1 "
        "JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v), "
        "pb AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_triangles FROM ("
        "SELECT a AS brand FROM tri UNION ALL SELECT b FROM tri "
        "UNION ALL SELECT c FROM tri) GROUP BY brand), "
        "deg AS (SELECT brand, CAST(count(*) AS BIGINT) AS degree FROM ("
        "SELECT u AS brand FROM e UNION ALL SELECT v FROM e) GROUP BY brand) "
        "SELECT deg.brand AS p_brand, coalesce(pb.n_triangles, 0) AS n_triangles, "
        "deg.degree, CAST(CASE WHEN deg.degree >= 2 THEN "
        "(2000 * coalesce(pb.n_triangles, 0)) // (deg.degree * (deg.degree - 1)) "
        "ELSE 0 END AS BIGINT) AS clustering_milli "
        "FROM deg LEFT JOIN pb ON pb.brand = deg.brand "
        "ORDER BY n_triangles DESC, p_brand"
    )


@query("parts_brand_triangles", oracle=_triangle_oracle_sql())
def parts_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting + local clustering coefficient on the
    undirected brand co-purchase graph — third member of the graph
    family (connected components, PageRank, triangles).
    Edges are canonical ``u < v`` pairs from the basket-bounded
    (order, brand) table; triangles enumerate as e1(a,b) ⋈ e2(b,c) ⋈
    e3(a,c) with a < b < c, so each triangle is produced exactly once.
    Per-node clustering coefficient in exact milli-integer arithmetic:
    ``2000 * tri(v) div (deg(v) * (deg(v) - 1))``.

    Scale: the wedge join e1 ⋈ e2 is the quadratic step — with
    canonical ordering its fan-out is bounded by per-node OUT-degree
    under the order (the classic compact-forward bound; at web scale
    you additionally orient edges low-degree → high-degree, which this
    plan inherits by replacing the lexicographic order with a degree
    order — the join shape is unchanged).  The closing e3 probe is an
    equi-join on both endpoints, broadcast here (edge list is
    brand-bounded), shuffle-hash at scale.  No cartesian products
    anywhere (gated).
    """
    edges = _brand_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            F.broadcast(e3),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    per_brand = (
        tri.select(F.col("a").alias("brand"))
        .unionByName(tri.select(F.col("b").alias("brand")))
        .unionByName(tri.select(F.col("c").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("u").alias("brand"))
        .unionByName(edges.select(F.col("v").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return (
        deg.join(per_brand, "brand", "left")
        .select(
            F.col("brand").alias("p_brand"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            "degree",
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2000 * coalesce(n_triangles, 0)) div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_milli"),
        )
        .orderBy(F.desc("n_triangles"), F.asc("p_brand"))
    )


@query(
    "parts_skyline_price_size",
    oracle=(
        # naive complete oracle: a part is on the skyline iff NO other
        # part is <= in price AND >= in size with one strict
        "WITH p AS (SELECT p_partkey, "
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc, "
        "CAST(p_size AS BIGINT) AS sz FROM part), "
        "sky AS (SELECT * FROM p a WHERE NOT EXISTS ("
        "SELECT 1 FROM p b WHERE b.pc <= a.pc AND b.sz >= a.sz "
        "AND (b.pc < a.pc OR b.sz > a.sz))) "
        "SELECT pc AS price_cents, sz AS p_size, "
        "CAST(count(*) AS BIGINT) AS n_parts, "
        "CAST(sum(p_partkey) AS BIGINT) AS key_sum "
        "FROM sky GROUP BY pc, sz ORDER BY pc"
    ),
)
def parts_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D skyline (Pareto frontier: minimize price, maximize
    size — the preference query behind 'cheapest part that is at least
    this big'): instead of the oracle's quadratic NOT-EXISTS, the plan
    collapses to the per-price maximum size (domain-bounded — retail
    prices live on a fixed cents grid), then one running-max sweep over
    the price-sorted domain table decides the frontier: a price sits on
    the skyline iff its best size strictly exceeds the running max of
    every strictly-cheaper price (points tied at a skyline (price,
    size) cell all survive — neither strictly dominates — so members
    are recovered by an equi-join back on (price, best size) and the
    output pins the full member multiset per cell).  Money on the
    DECIMAL cents grid; everything integer.

    Scale: the quadratic dominance test never runs — the corpus
    collapses map-side to one row per distinct price (domain-bounded,
    NOT data-bounded) and only that table is sorted; the member
    recovery is a broadcast equi-join of the skyline cells against the
    corpus.  The price-domain sweep is the waived single-partition
    step, same shape as the token-shards bucket table.
    """
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("pc"),
        F.col("p_size").cast("bigint").alias("sz"),
    )
    per_price = p.groupBy("pc").agg(F.max("sz").alias("best_sz"))
    w = Window.orderBy("pc").rowsBetween(Window.unboundedPreceding, -1)
    sky_prices = (
        per_price.withColumn("m1", F.max("best_sz").over(w))
        .where(F.col("m1").isNull() | (F.col("best_sz") > F.col("m1")))
        .select("pc", F.col("best_sz").alias("sz"))
    )
    return (
        p.join(F.broadcast(sky_prices), ["pc", "sz"])
        .groupBy("pc", "sz")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("p_partkey").cast("bigint").alias("key_sum"),
        )
        .select(
            F.col("pc").alias("price_cents"), F.col("sz").alias("p_size"),
            "n_parts", "key_sum",
        )
        .orderBy("price_cents")
    )


@query(
    "orders_snapshot_diff",
    oracle=(
        # rule-based truth: the oracle classifies by the mutation rule
        # directly, never running a diff — the Spark side must recover
        # the same classes with generic full-outer hash-diff machinery
        "WITH b AS (SELECT o_orderkey, "
        "(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT "
        "% 10) AS bk FROM orders) "
        "SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM b WHERE bk = 1 "
        "UNION ALL "
        "SELECT 'insert', CAST(count(*) AS BIGINT), "
        "CAST(sum(o_orderkey + 10000000) AS BIGINT) FROM b WHERE bk = 2 "
        "UNION ALL "
        "SELECT 'unchanged', CAST(count(*) AS BIGINT), "
        "CAST(sum(o_orderkey) AS BIGINT) FROM b WHERE bk NOT IN (0, 1) "
        "UNION ALL "
        "SELECT 'update', CAST(count(*) AS BIGINT), "
        "CAST(sum(o_orderkey) AS BIGINT) FROM b WHERE bk = 0 "
        "ORDER BY op"
    ),
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot differencing — the CDC GENERATOR (inverse of
    formats_merge_on_read's consumer): given two table snapshots with
    no change log, recover the insert/update/delete/unchanged delta by
    a full-outer join on the primary key comparing content hashes —
    the sync primitive when the upstream can't emit CDC (nightly dump
    replication, backfill drift detection).  The new snapshot derives
    from a deterministic md5-bucket rule (bucket 0 mutated, bucket 1
    dropped, bucket 2 cloned to a shifted key), and the ORACLE
    classifies by that rule directly — so the grade pins that the
    generic differ recovers exactly the rule-based truth, class by
    class, key-sum by key-sum.

    Scale: one key-shuffled full-outer join with 16-byte content
    digests on the wire (never row payloads); unchanged rows — the
    overwhelming majority in real syncs — are detected by digest
    equality and collapse map-side into counts.  The diff output is
    |changes|-sized, which is what makes dump-to-CDC affordable.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 10
    )
    tagged = orders.withColumn("bk", bucket)
    new_snap = (
        tagged.where(F.col("bk") != 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("bk") == 0, F.lit("1-URGENT"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            F.when(
                F.col("bk") == 0, F.col("price") + F.lit(1).cast("decimal(18,2)")
            )
            .otherwise(F.col("price"))
            .alias("price"),
        )
        .unionByName(
            tagged.where(F.col("bk") == 2).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderstatus", "o_orderpriority", "price",
            )
        )
    )

    def hashed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|", "o_orderstatus", "o_orderpriority",
                    (F.col("price") * 100).cast("bigint").cast("string"),
                )
            ).alias(f"h_{side}"),
        )

    diff = hashed(orders, "old").join(hashed(new_snap, "new"), "k", "full_outer")
    classified = diff.select(
        "k",
        F.when(F.col("h_old").isNull(), F.lit("insert"))
        .when(F.col("h_new").isNull(), F.lit("delete"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("update"))
        .alias("op"),
    )
    return (
        classified.groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("op")
    )


@query(
    "lineitem_trimmed_price_stats",
    oracle=(
        "WITH r AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
        "* 100 AS BIGINT) AS cents, "
        "row_number() OVER (ORDER BY CAST(CAST(l_extendedprice AS "
        "DECIMAL(18,2)) * 100 AS BIGINT), l_orderkey, l_linenumber) AS rn, "
        "count(*) OVER () AS n FROM lineitem), "
        "mid AS (SELECT cents, n FROM r "
        "WHERE rn > n // 20 AND rn <= n - n // 20) "
        "SELECT CAST(min(n) AS BIGINT) AS n_total, "
        "CAST(min(n) // 20 AS BIGINT) AS n_trimmed_each_side, "
        "CAST(count(*) AS BIGINT) AS n_kept, "
        "CAST(sum(cents) AS BIGINT) AS trimmed_cents_sum, "
        "CAST((1000 * sum(cents)) // count(*) AS BIGINT) "
        "AS trimmed_mean_millicents FROM mid"
    ),
)
def lineitem_trimmed_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed mean of extended price — the robust-family
    member between the median/MAD detector and plain averages (outlier
    amputation by exact RANK, not by a value threshold someone guessed):
    prices rank globally on the cents grid with a (orderkey, linenumber)
    tie-break (a total order, so the trim boundary is deterministic),
    the bottom and top n div 20 rows drop, and the surviving mass
    reports an exact integer milli-cents mean.

    Scale: the global rank uses the repo's range-partition + local sort
    + broadcast-offsets construction (ranking.global_row_number — the
    only globally-ordered data is the 256-row offsets table); the trim
    filter and the sum are map-side after that.  The oracle's
    single-window rank is the semantics; the ranged construction is the
    100 TB plan, and their equality is exactly what the layout-
    invariance matrix checks for the other ranked queries.
    """
    from duckdb_cluster_hash_spark.operators.ranking import global_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey", "l_linenumber",
    )
    # The trim boundary needs only the row COUNT, which a plain scan
    # count answers map-side — fetching it from the ranked pipeline
    # would execute the whole range-partition + local-sort + offsets
    # construction twice (r4 verdict "What's wrong #2").
    n = li.count()
    ranked = global_row_number(
        li, [F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    )
    trim = int(n) // 20
    mid = ranked.where((F.col("rn") > trim) & (F.col("rn") <= int(n) - trim))
    return mid.agg(
        F.lit(int(n)).cast("bigint").alias("n_total"),
        F.lit(trim).cast("bigint").alias("n_trimmed_each_side"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("cents").cast("bigint").alias("trimmed_cents_sum"),
        F.expr(f"(1000 * sum(cents)) div count(*)")
        .cast("bigint")
        .alias("trimmed_mean_millicents"),
    )


@query(
    "orders_bucket_pruned_lookup",
    oracle=(
        "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, "
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_price "
        "FROM orders WHERE o_custkey = 42 GROUP BY o_custkey"
    ),
)
def orders_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup — the read-side payoff of bucketed
    layout beyond shuffle-free joins (orders_bucketed_coloc_join covers
    the join; this covers the SERVING path): orders persist bucketed by
    ``o_custkey`` into 8 buckets, and a single-customer rollup then
    scans exactly ONE bucket's files — asserted in-query from the
    executed plan's ``SelectedBucketsCount: 1 out of 8``, so a layout
    regression that silently falls back to a full scan fails loudly
    (the aggregation keys on the bucket column, which also keeps the
    bucketed scan enabled under autoBucketedScan and avoids the
    shuffle).  The rollup over the pruned scan must equal the oracle's
    direct computation on the raw table.

    Scale: bucket pruning turns a point query on a 100 TB fact table
    into a 1/N-bucket read with zero shuffle — the same layout serving
    both the co-located join and the lookup is exactly why bucketing
    is chosen over ad-hoc layouts.
    """
    import os as _os
    import shutil as _shutil

    loc = scratch_dir("bkt_lookup_orders", sf_dir)
    tbl = _os.path.basename(loc)
    # own the location explicitly (same pattern as the coloc join): a
    # fresh session cannot DROP a previous process's managed directory
    if not spark.catalog.tableExists(tbl) or not _os.path.isdir(loc):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _shutil.rmtree(loc, ignore_errors=True)
        (
            _t(spark, sf_dir, "orders")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", loc)
            .saveAsTable(tbl)
        )
    out = (
        spark.table(tbl)
        .where(F.col("o_custkey") == 42)
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "SelectedBucketsCount: 1 out of 8" not in plan:
        raise RuntimeError(
            "bucket pruning regressed: point lookup did not prune to 1/8 buckets"
        )
    return out


@query(
    "orders_set_operations",
    oracle=(
        "WITH a AS (SELECT o_custkey AS k FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')), "
        "b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') "
        "SELECT "
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a INTERSECT ALL "
        "SELECT k FROM b)) AS n_intersect_all, "
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a EXCEPT ALL "
        "SELECT k FROM b)) AS n_except_all, "
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a INTERSECT "
        "SELECT k FROM b)) AS n_intersect_distinct, "
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a EXCEPT "
        "SELECT k FROM b)) AS n_except_distinct, "
        "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a UNION "
        "SELECT k FROM b)) AS n_union_distinct"
    ),
)
def orders_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set-operation semantics — the B-surface corner no
    other query grades: INTERSECT ALL / EXCEPT ALL are MULTISET
    operations (occurrence counts: min for intersect, truncated
    difference for except) and differ from their DISTINCT forms
    whenever keys repeat, which customer keys here do.  The Spark side
    uses ``intersectAll``/``exceptAll``/``intersect``/``exceptAll``'s
    distinct cousins on the DataFrame API; the oracle spells the same
    five operations in portable SQL — equality pins that both engines
    implement bag semantics identically (a classic cross-engine
    divergence trap).

    Scale: every set op is a keyed shuffle with map-side partial
    counting (Spark plans intersect/except as aggregates over tagged
    unions) — no operation here materializes more than the two keyed
    inputs.
    """
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("k"))
    b = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias(name))

    return (
        cnt(a.intersectAll(b), "n_intersect_all")
        .crossJoin(cnt(a.exceptAll(b), "n_except_all"))
        .crossJoin(cnt(a.intersect(b), "n_intersect_distinct"))
        .crossJoin(cnt(a.subtract(b), "n_except_distinct"))
        .crossJoin(cnt(a.union(b).distinct(), "n_union_distinct"))
    )


def _kcore_oracle_sql(rounds: int = 3) -> str:
    # MATERIALIZED throughout: the peel chain references every e{r}
    # multiple times (the degree union, two IN subqueries, and the
    # final count legs), and with inlined CTEs DuckDB re-expands the
    # whole chain per reference — combinatorial re-execution of the
    # e0 self-join that turned the sf0.1 oracle from seconds into
    # hours.  Materialization is a pure execution hint; results are
    # identical.
    parts = [
        "WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, "
        "l_partkey AS p FROM lineitem), "
        "e0 AS MATERIALIZED (SELECT DISTINCT a.p AS p1, b.p AS p2 "
        "FROM op a JOIN op b ON a.o = b.o AND a.p < b.p), "
        "kv AS MATERIALIZED (SELECT CAST((sum(d) // count(*)) + 1 AS BIGINT) AS k FROM "
        "(SELECT p, count(*) AS d FROM (SELECT p1 AS p FROM e0 "
        "UNION ALL SELECT p2 AS p FROM e0) GROUP BY p))"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", d{r - 1} AS MATERIALIZED (SELECT p, count(*) AS d FROM "
            f"(SELECT p1 AS p FROM e{r - 1} UNION ALL SELECT p2 AS p FROM e{r - 1}) "
            f"GROUP BY p)"
            f", v{r} AS MATERIALIZED (SELECT p FROM d{r - 1}, kv WHERE d >= kv.k)"
            f", e{r} AS MATERIALIZED (SELECT p1, p2 FROM e{r - 1} "
            f"WHERE p1 IN (SELECT p FROM v{r}) AND p2 IN (SELECT p FROM v{r}))"
        )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS peel_round, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM v{r}) AS n_vertices, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges, "
        "(SELECT k FROM kv) AS kcore_k"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + " " + rows + " ORDER BY peel_round"


@query("parts_kcore_decomposition", oracle=_kcore_oracle_sql())
def parts_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph (Seidman
    1983; the third iterative graph operator next to PageRank and
    connected components): repeatedly strip vertices whose
    degree falls below k until only the dense core survives.  The
    threshold is SCALE-RELATIVE — k = mean degree + 1, in integer
    arithmetic — so the peel does real work at every sf and on the
    fuzz gate's random star schemas; three unrolled rounds are graded
    on (n_vertices, n_edges) per round, which pins the whole peeling
    trajectory cross-engine.

    Scale: edges build once from the DISTINCT (order, part) table
    keyed on the order (basket-bounded, never all-pairs) and are
    checkpointed via the shared session memo (one build serves k-core
    AND link prediction — r14); each round is a degree groupBy plus two
    key-equality semi-joins — the standard iterative-dataflow shape
    whose shuffles shrink monotonically as the graph peels.  The scalar
    k is a 1-row collect of a global aggregate, and the six graded
    per-round counts are ONE union-of-aggregates job over the round
    checkpoints instead of six serialized count() round-trips (r14 —
    under the bench's FAIR contention each extra action waits in the
    scheduler queue, so job count, not data, set this query's wall).
    """
    edges = _copurchase_part_edges(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("p1").alias("p"))
            .unionAll(e.select(F.col("p2").alias("p")))
            .groupBy("p")
            .agg(F.count("*").cast("bigint").alias("d"))
        )

    k = int(
        degrees(edges)
        .selectExpr("(sum(d) div count(*)) + 1 AS k")
        .head()[0]
    )
    # ONE checkpoint job per round (r14): keep stays LAZY inside the
    # cur build — its degree-aggregate exchange feeds both semi-joins
    # and is planned once (ReuseExchange/ReusedBroadcast dedupe the
    # identical subtree), so materializing keep separately only added a
    # serialized job per round that the bench's FAIR queue charged at
    # full contention price.  The graded counts are deferred to ONE
    # union-of-aggregates job at the end (keep legs re-derive one
    # degree exchange each off the previous round's CHECKPOINTED edge
    # table — cheap, and all six legs run inside a single job), then
    # the 3-row trajectory is a driver-side createDataFrame, so
    # collecting the result re-runs nothing.  8 jobs -> 5.
    cur = edges
    ckpts = []
    rounds = []
    for r in range(1, 4):
        keep = degrees(cur).where(F.col("d") >= k).select("p")
        cur = (
            cur.join(keep.withColumnRenamed("p", "p1"), "p1", "leftsemi")
            .join(keep.withColumnRenamed("p", "p2"), "p2", "leftsemi")
            .select("p1", "p2")
            .localCheckpoint(eager=True)
        )
        ckpts.append(cur)
        rounds.append((r, keep, cur))
    counts_df = None
    for r, keep, cur_ in rounds:
        leg = keep.agg(F.count("*").alias("c")).selectExpr(
            f"{r} AS r", "'v' AS kind", "c"
        )
        leg2 = cur_.agg(F.count("*").alias("c")).selectExpr(
            f"{r} AS r", "'e' AS kind", "c"
        )
        counts_df = (
            leg.unionAll(leg2)
            if counts_df is None
            else counts_df.unionAll(leg).unionAll(leg2)
        )
    cnt = {(row.r, row.kind): int(row.c) for row in counts_df.collect()}
    rows = [(r, cnt[(r, "v")], cnt[(r, "e")], k) for r in range(1, 4)]
    # All counts are taken: release the per-round checkpoint blocks
    # eagerly instead of waiting for the ContextCleaner — in a shared
    # session (the bench's 8 workers) lingering blocks are pure GC
    # pressure.  The memoized edge table stays (shared with link
    # prediction; clear_shared_cache owns it).
    for df_ in ckpts:
        try:
            df_.unpersist()
        except Exception:
            pass
    return spark.createDataFrame(
        rows, "peel_round int, n_vertices bigint, n_edges bigint, kcore_k bigint"
    ).orderBy("peel_round")


# Deterministic per-middle-vertex neighbor cap for link prediction: wedge
# work is Σ min(deg, CAP)² instead of Σ deg² — O(V·CAP²) worst case — so
# power-law hubs cannot go superlinear at scale.  Neighbors are kept by
# md5(v|u) order (content-keyed, reproducible in any engine), NOT by key
# order, so the cap is an unbiased deterministic sample of each
# neighborhood.  At sf0.1 (median degree 119) it cuts ordered wedge pairs
# 298M → 82M (3.6x); at 100x with hubs the bound is what matters.
_LINKPRED_HUB_CAP = 64


def _link_prediction_oracle_sql(top: int = 15, cap: int = _LINKPRED_HUB_CAP) -> str:
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"k{i} AS (SELECT d, e, {m}, {f_} FROM k{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
        "FROM lineitem), "
        "e0 AS (SELECT DISTINCT a.p AS p1, b.p AS p2 "
        "FROM op a JOIN op b ON a.o = b.o AND a.p < b.p), "
        "nbr AS (SELECT p1 AS v, p2 AS u FROM e0 "
        "UNION ALL SELECT p2 AS v, p1 AS u FROM e0), "
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nbr GROUP BY v), "
        "nbrc AS (SELECT v, u FROM (SELECT v, u, row_number() OVER ("
        "PARTITION BY v ORDER BY md5(v::VARCHAR || '|' || u::VARCHAR), u"
        f") AS rk FROM nbr) WHERE rk <= {cap}), "
        "dx AS (SELECT DISTINCT d, d << 20 AS x FROM deg WHERE d >= 2), "
        f"k0 AS (SELECT d, {seed} FROM dx), "
        + ", ".join(steps)
        + f", lg AS (SELECT d, (e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l1024 "
        f"FROM k{_MLOG2_STEPS}), "
        "w AS (SELECT n1.u AS a, n2.u AS b, "
        "CAST((1 << 20) // lg.l1024 AS BIGINT) AS wv "
        "FROM nbrc n1 JOIN nbrc n2 ON n1.v = n2.v AND n1.u < n2.u "
        "JOIN deg ON deg.v = n1.v JOIN lg ON lg.d = deg.d), "
        "aa AS (SELECT a, b, CAST(sum(wv) AS BIGINT) AS aa_pts, "
        "CAST(count(*) AS BIGINT) AS n_common FROM w GROUP BY a, b), "
        "cand AS (SELECT aa.* FROM aa LEFT JOIN e0 "
        "ON aa.a = e0.p1 AND aa.b = e0.p2 WHERE e0.p1 IS NULL) "
        "SELECT a AS p1, b AS p2, n_common, aa_pts FROM cand "
        f"ORDER BY aa_pts DESC, a, b LIMIT {top}"
    )


@query("parts_link_prediction", oracle=_link_prediction_oracle_sql())
def parts_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the part co-purchase graph
    (Adamic & Adar 2003): score non-adjacent part pairs by
    sum over common neighbors v of 1/log2(deg(v)), rarer mutual
    friends counting more — the 'frequently bought together'
    candidate generator.  The weight is the pure-integer milli-bit
    log2 chain ((1 << 20) // l1024, computed once per DISTINCT
    degree), so scores are exact BIGINTs and the top-15 ranking is
    deterministic cross-engine.

    Scale: wedges enumerate per MIDDLE vertex, and each middle
    vertex's neighbor list is first capped at _LINKPRED_HUB_CAP = 64
    deterministic md5-ordered entries (the standard hub knob for
    power-law graphs), so wedge work is Σ min(deg, 64)² = O(V·64²)
    instead of Σ deg² — at sf0.1 that is 41M wedge rows instead of
    149M, and at 100x a hub of degree 10^6 contributes 2k wedges,
    not 10^12.  The cap is mirrored bit-exactly in the oracle's nbrc
    CTE (same md5(v|u) ordering); the AA weight still uses the TRUE
    degree.  Existing edges drop via one keyed anti-join.

    Wedge generation (r14 rework): through round 13 the capped
    adjacency self-joined on v, which planned the md5 window + 2E-row
    exchange TWICE (once per join side) plus a sort-merge; now the
    single window pass feeds a groupBy(v) collect of the ≤64 sorted
    neighbors (no new exchange — the window's hashpartitioning(v)
    already satisfies the grouping) and all C(|us|,2) ordered pairs
    explode MAP-SIDE from the array, weight resolved once per middle
    vertex (deg join + broadcast log chain on ≤|V| grouped rows,
    never the wedge table).  Each wedge still ships as two packed
    BIGINTs ((a << 32) | b, weight) into the one unavoidable
    O(wedges) exchange — the (a,b) group-by — explicitly
    repartitioned to 4x defaultParallelism on the pair key: the pair
    key is nearly unique, so map-side partial aggregation cannot
    shrink the exchange and the win is smaller per-task hash maps
    that stay cache/memory-resident (measured 24.5s -> 9.5s for the
    uncapped agg in r12).  The edge table is the session-memoized
    shared checkpoint (one build serves k-core and link prediction);
    at true 100 TB it is a materialized edge table and the
    repartition count follows cluster parallelism.
    """
    e0 = _copurchase_part_edges(spark, sf_dir)
    nbr = e0.selectExpr("p1 AS v", "p2 AS u").unionByName(
        e0.selectExpr("p2 AS v", "p1 AS u")
    )
    deg = nbr.groupBy("v").agg(F.count("*").cast("bigint").alias("d"))
    # Hub cap (see _LINKPRED_HUB_CAP): keep each middle vertex's first
    # CAP neighbors in md5(v|u) order — one narrow 2-column window over
    # the |2E| adjacency, bit-identical to the oracle's row_number CTE
    # (md5 is the shared cross-engine hash; hex-string ordering is plain
    # byte order in both).  The AA weight still uses the TRUE degree.
    from pyspark.sql import Window

    wcap = Window.partitionBy("v").orderBy(
        F.md5(F.concat_ws("|", F.col("v"), F.col("u"))), F.asc("u")
    )
    # ≤64 sorted neighbors per middle vertex, grouped in the SAME
    # partitioning the window established; size >= 2 both guarantees
    # ascending sequences below and matches the old inner lg join's
    # d >= 2 middle filter (size >= 2 <=> d >= 2 under the cap).
    nbrg = (
        nbr.withColumn("rk", F.row_number().over(wcap))
        .where(F.col("rk") <= _LINKPRED_HUB_CAP)
        .groupBy("v")
        .agg(F.sort_array(F.collect_list("u")).alias("us"))
        .where(F.size("us") >= 2)
    )
    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    s = (
        deg.where(F.col("d") >= 2)
        .select("d")
        .distinct()
        .selectExpr("d", "d << 20 AS x")
        .selectExpr("d", *_MLOG2_SEED_EXPRS)
    )
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("d", "e", m, f_)
    lg = s.selectExpr("d", f"(e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l1024")
    # Weight once per middle vertex (grouped table is ≤|V| rows), then
    # map-side ordered-pair explode: us is ascending, so (i < j) pairs
    # are exactly the old n1.u < n2.u wedge rows.
    w = (
        nbrg.join(deg, "v")
        .join(F.broadcast(lg), "d")
        .select(
            F.expr(
                "explode(flatten(transform(sequence(1, size(us) - 1), "
                "i -> transform(sequence(i + 1, size(us)), "
                "j -> struct(CAST(element_at(us, i) AS BIGINT) AS a, "
                "CAST(element_at(us, j) AS BIGINT) AS b)))))"
            ).alias("p"),
            F.expr("CAST((1 << 20) div l1024 AS BIGINT)").alias("wv"),
        )
        .selectExpr("shiftleft(p.a, 32) | p.b AS ab", "wv")
    )
    n_agg = spark.sparkContext.defaultParallelism * 4
    aa = w.repartition(n_agg, "ab").groupBy("ab").agg(
        F.sum("wv").cast("bigint").alias("aa_pts"),
        F.count("*").cast("bigint").alias("n_common"),
    )
    cand = aa.join(
        e0.selectExpr(
            "shiftleft(CAST(p1 AS BIGINT), 32) | CAST(p2 AS BIGINT) AS ab"
        ),
        "ab",
        "left_anti",
    )
    return (
        cand.selectExpr(
            "shiftright(ab, 32) AS p1",
            "ab & 4294967295 AS p2",
            "n_common",
            "aa_pts",
        )
        .orderBy(F.desc("aa_pts"), F.asc("p1"), F.asc("p2"))
        .limit(15)
    )


@query(
    "customer_revenue_gini",
    oracle=(
        "WITH rev AS (SELECT o_custkey, "
        "CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) "
        "AS vd FROM orders GROUP BY o_custkey), "
        "rk AS (SELECT vd, row_number() OVER (ORDER BY vd, o_custkey) "
        "AS i FROM rev), "
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(vd) AS BIGINT) AS sv, "
        "CAST(sum(i * vd) AS BIGINT) AS sd FROM rk), "
        "g AS (SELECT n, sv, 2 * sd - (n + 1) * sv AS num, n * sv AS den "
        "FROM s) "
        "SELECT n AS n_customers, sv AS total_dollars, "
        "CAST(CASE WHEN den = 0 THEN 0 ELSE "
        "((1000 * num) // den) * 1000 "
        "+ (1000 * ((1000 * num) % den)) // den END AS BIGINT) "
        "AS gini_micro FROM g"
    ),
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of customer revenue (the Lorenz-curve
    statistic): G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over
    rank-ordered per-customer revenue — the one-number skew readout
    behind 'do 1% of customers carry the book', and for a data engine
    the canonical exact-weighted-rank workload.  Revenue quantizes to
    cents per order BEFORE summing (order-independent), so the
    statistic is an exact integer in micros via a two-step long
    division (1000x then 1000x on the remainder — floors compose
    exactly, every intermediate under 2^63).  Revenue quantizes to
    whole dollars (Gini is scale-invariant; the quantization IS the
    spec both engines share).  Bound: 1000 * n * sum(vd) under 2^63 —
    ~10^6 customers x 10^9 total dollars; coarsen the unit beyond.

    Scale: per-customer revenue is one map-side-combining groupBy;
    ranks come from global_row_number's range-partition pattern (only
    the 256-row offsets table is ever globally ordered); the Gini is
    a 1-row rollup of (n, sum, rank-weighted sum).
    """
    from duckdb_cluster_hash_spark.operators.ranking import global_row_number

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        orders.selectExpr(
            "o_custkey",
            "CAST(round(o_totalprice) AS BIGINT) AS od",
        )
        .groupBy("o_custkey")
        .agg(F.sum("od").cast("bigint").alias("vd"))
    )
    rk = global_row_number(
        rev, [F.col("vd"), F.col("o_custkey")], out_col="i"
    )
    s = rk.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vd").cast("bigint").alias("sv"),
        F.sum(F.expr("i * vd")).cast("bigint").alias("sd"),
    )
    # two-step exact long division: floor(1e6*num/den) computed as
    # 1000*floor(1000*num/den) + floor(1000*(1000*num mod den)/den),
    # keeping every intermediate under 2^63 (a direct 1e6 multiply
    # overflows already at sf0.01 on cent-quantized sums)
    g = s.selectExpr(
        "n", "sv", "2 * sd - (n + 1) * sv AS num", "n * sv AS den"
    )
    return g.selectExpr(
        "n AS n_customers",
        "sv AS total_dollars",
        "CAST(CASE WHEN den = 0 THEN 0 ELSE "
        "((1000 * num) div den) * 1000 "
        "+ (1000 * ((1000 * num) % den)) div den END AS BIGINT) "
        "AS gini_micro",
    )
