"""Engine-wide SparkSession invariants and the one session factory.

``start_session()`` is how every harness in this repo (bench.py, the
scripts/ sweeps, the test fixture) gets its session, so plan and timing
evidence from any of them comes from the same configuration.  Its settings
are worked out from the host, never chosen per caller.

The catalog's DuckDB oracles are timezone-naive and the corpus's
``events.ts`` is parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
rejects unless read as a long), so any session running engine queries must
hold these two confs for the life of the session:

- ``spark.sql.session.timeZone = UTC`` — calendar functions
  (date_trunc/year/CAST AS DATE) interpret epochs in the session zone;
  pinning UTC makes them match the naive oracle.
- ``spark.sql.legacy.parquet.nanosAsLong = true`` — nanosecond timestamps
  surface as int64 and are converted to microsecond TimestampType by the
  loader.

They are deliberately NOT save/restored around individual reads: Spark
captures the session conf when an *action* runs, not when the (lazy)
DataFrame is defined, so restoring early would corrupt later executions of
already-built plans.  Treat them as session invariants; this module is the
single authority on what they are.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

SESSION_INVARIANTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow kernels (applyInPandas/mapInPandas/cogroup) must return numpy
    # dtypes matching their declared schemas exactly; safe conversion makes
    # a lossy mismatch (e.g. an int64 column against a declared int that
    # actually overflows) raise at the kernel boundary instead of silently
    # truncating.  Kernels build their int columns as np.int32 explicitly.
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's session invariants (idempotent, cheap)."""
    for key, value in SESSION_INVARIANTS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    return spark


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() and int(env) > 0 else len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM capped at 16g.

    The default 1g heap OOMs on the 100M-group link-prediction aggregate
    once a long sweep has accumulated checkpoint blocks (observed killing
    two full sf0.1 check_oracle sweeps at query ~70)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb // 2, 16 * 1024)}m"


def start_session() -> SparkSession:
    """The engine's SparkSession: ``local[N]`` over the host's CPUs, FAIR.

    Shuffle width is ``max(N, 8)``.  AQE (on by default) keeps its
    parallelismFirst coalescing, which folds the genuinely tiny shuffles.
    Size-based coalescing (parallelismFirst=false + a 64m advisory) was
    tried for the r14 32-core anti-scaling finding and rejected on
    measurement (r15, plans/r15/isolate_r15_aqe64m_rejected.json): this
    suite's hot exchanges are compute-dense but byte-light (packed-bigint
    wedges, token digests), so size-targeted coalescing collapsed them to
    1-2 tasks and serialized the compute — parts_link_prediction 5.7s →
    32s, docs_set_similarity_join 5.3s → 13-16s isolated-warm.  The r14
    anti-scaling was the fixed streaming state width plus scheduler
    overhead, not reduce-partition fan-out.

    FAIR is not a no-op without pools: a short job submitted behind a long
    one gets task slots as the long job's tasks finish instead of waiting
    for all of them, which is what concurrent callers need; serial callers
    see no change.  The warehouse is a per-process temp dir, removed at
    exit, so DDL queries never meet another process's tables.
    """
    cpus = host_cpus()
    warehouse = tempfile.mkdtemp(prefix="spark-wh-")
    atexit.register(shutil.rmtree, warehouse, True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("duckdb_cluster_hash_spark")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", warehouse)
    )
    for key, value in SESSION_INVARIANTS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
