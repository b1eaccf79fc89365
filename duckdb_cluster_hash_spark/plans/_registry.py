"""Named query catalog — the driver-checkable surface of the engine.

Every entry pairs a Spark implementation (DataFrame-first, Catalyst-friendly)
with an independent DuckDB oracle SQL string.  The driver runs both at
sf=0.01 and compares row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- floating aggregates go through DECIMAL(18,4) (exact, order-independent
  summation) and come back as ``round(double, 2)`` so partial-aggregation
  order on Spark's side cannot flip a bit;
- timestamps are returned as DATE / epoch buckets / formatted strings,
  never raw (parquet ns vs us precision differs between engines);
- sums of integers are cast to BIGINT in the oracle (DuckDB widens to
  HUGEINT, Spark to LONG).

Cross-cutting scale notes (100 TB): each query is expressed so Catalyst
keeps scan-level column pruning + predicate pushdown; small dimensions are
broadcast explicitly; top-k goes through ``ORDER BY ... LIMIT`` so Spark
plans ``TakeOrderedAndProject`` instead of a global sort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a named query and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        if name in QUERIES:
            # With 185 registrations spread across ten family modules, a
            # cross-module name collision would silently shadow a query
            # while every gate's counts stayed self-consistent — fail at
            # import time instead.
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{QUERIES[name].__module__} (new: {fn.__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session invariants (UTC timezone, nanosAsLong) live in session.py;
    # load_table applies them idempotently
    return load_table(spark, sf_dir, name)


# A DECIMAL-exact money sum that is bit-stable regardless of partial-agg
# order, surfaced as a rounded double.
def _money_sum(col: str):
    return F.round(F.sum(F.col(col).cast("decimal(18,4)")), 2).cast("double")


# Cross-engine rounding rule used throughout (inline as round(x*10^k)/10^k):
# Spark's round(x, k) rounds the double's SHORTEST DECIMAL REPR (BigDecimal
# HALF_UP) while DuckDB rounds the raw binary value - they disagree whenever
# the true value sits at a 10^-k midpoint (e.g. 0.70915).  Scaling to an
# integer first is safe: integer midpoints are exactly representable, so
# both engines see the same side.  Oracles use round(x * 10^k) / 10^k too.
# Integer division: Spark `a div b` and DuckDB `a // b` BOTH truncate toward
# zero, including negative operands (-7 div 2 == -7 // 2 == -3; verified),
# so div-based scores stay bit-identical even when sums go negative.
