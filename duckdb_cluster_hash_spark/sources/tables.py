"""Parquet table sources for the driver's synthetic corpus.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an ``sf``
directory.  Loaders go through ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning / partition coalescing; at 100 TB the
same call reads a partitioned parquet dataset unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.session import configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# Memoized logical plans: spark.read.parquet does a driver-side file
# listing + footer/schema read on every call, which at ~3 tables/query
# across the whole catalog adds seconds of pure driver overhead.  The
# returned DataFrame is an immutable logical plan, so reusing it is safe;
# weakly keyed by the live session object so a restarted session never
# sees plans bound to a dead JVM (and dead sessions don't pin plans).
import threading
import weakref

_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
# Construction is serialized: the plan cache is not just a speedup — the
# session memo (duckdb_cluster_hash_spark.memo) is WEAKLY KEYED BY THE
# FRAME OBJECT, so every caller must see ONE canonical frame per
# (sf_dir, table).  Without the
# lock, bench's 8 concurrent workers race the miss path, each builds
# its own frame, memos land on transient objects, and the timed region
# silently re-runs work the prestage already memoized (observed: the
# unigram trainer re-trained in the timed region at full cost).
_PLAN_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some corpus
    builds and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, and
    Spark's reading of the nanos flavor changed across releases (legacy
    ``nanosAsLong`` long, then native TIMESTAMP_NTZ).  Normalize every
    flavor to session-zone TimestampType at microsecond precision so the
    rest of the engine sees one stable schema:

    - long (legacy nanos-as-int64): floor-divide ns -> us — floor, not
      truncate-toward-zero, so pre-1970 values land on the same
      microsecond as DuckDB's conversion;
    - TIMESTAMP_NTZ: reinterpret the naive wall time in the session zone
      (pinned UTC, see session.py), identical to DuckDB's naive read.
    """
    key = (sf_dir, name)
    per_session = _PLAN_CACHE.setdefault(spark, {})
    cached = per_session.get(key)
    if cached is not None:
        return cached
    with _PLAN_LOCK:
        cached = per_session.get(key)  # double-checked: first writer wins
        if cached is not None:
            return cached
        df = _build_table(spark, sf_dir, name)
        per_session[key] = df
        return df


def _build_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # the next corpus schema drift (INT96, string, date...) must
            # fail loudly at load time, not produce silently-wrong results
            # at query time — the exact mode this normalization exists for
            raise TypeError(
                f"events.ts: unrecognized parquet type {ts_type!r}; expected "
                "long (nanos-as-int64), timestamp_ntz, or timestamp — extend "
                "load_table's normalization for the new corpus flavor"
            )
    return df
