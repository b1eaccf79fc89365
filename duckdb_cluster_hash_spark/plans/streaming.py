"""Tier C — TRUE Structured Streaming queries (micro-batch engine,
watermarks, stateful operators) with batch-equivalent oracles.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark.streaming import events as _ev
from duckdb_cluster_hash_spark.oracle import node_sql as _node_sql
from duckdb_cluster_hash_spark.plans._registry import _t, query
from duckdb_cluster_hash_spark.plans._shared import _USER_TAG_KEY_SQL


def _stream_session(spark: SparkSession, stage_dir: str) -> SparkSession:
    """Isolated session clone (shared SparkContext) whose shuffle width —
    and therefore state-store partition count — is DERIVED from the
    staged replay volume (streaming/events.staged_stream_shuffle_partitions)
    instead of the fixed 8 used through round 14: at sf0.1 every staged
    replay is ≤2 MB, so the state store opens/commits ONE partition per
    micro-batch rather than 8 (7 of them empty), and at 100 TB the same
    rule widens with the data.  The clone keeps the width off the shared
    session's batch config."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.shuffle.partitions",
        str(_ev.staged_stream_shuffle_partitions(stage_dir)),
    )
    # Default (HDFS-backed) state store: RocksDB measured slower at
    # replay state sizes (plans/r15/isolate_r15_rocksdb_rejected.json).
    # A providerClass set in the SparkContext conf still reaches s2.
    return s2


@query(
    "events_streaming_hourly",
    oracle=(
        "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hour_bucket, "
        "event_type, count(*) AS n_events, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value "
        "FROM events GROUP BY hour_bucket, event_type "
        "ORDER BY hour_bucket, event_type"
    ),
)
def events_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming execution graded by the batch oracle
    (C7 — every other C7 driver row runs the batch twin of a streaming
    function; this one runs readStream → watermarked windowed agg →
    writeStream end-to-end): events staged as a file source, consumed
    with trigger=availableNow into a memory sink, result read back from
    the sink table.

    Determinism: the stage is ONE chunk → one micro-batch, so the
    watermark never drops anything and complete-mode output equals the
    batch aggregation exactly (multi-batch late-data behavior is pinned
    separately in tests/test_streaming.py, where it belongs — its
    results legitimately depend on chunk boundaries).  Scale: the same
    topology on a real bus is the production ingest path; state is
    bounded by the watermark per the streaming module's design.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    agg = _ev.hourly_event_counts(stream)
    sink = f"dch_stream_hourly_{base}"
    handle = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_hourly micro-batch did not finish")
    return (
        s2.table(sink)
        .select(
            (F.col("window_start_epoch") / 3600).cast("bigint").alias("hour_bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("hour_bucket", "event_type")
    )


@query(
    "events_streaming_late_data",
    oracle=(
        "WITH tagged AS (SELECT ts, event_type, value, "
        "('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 10 AS bucket "
        "FROM events), "
        "gm AS (SELECT max(ts) AS m FROM tagged), "
        "wm0 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM tagged, gm "
        "WHERE bucket < 7 OR ts = gm.m), "
        "fwm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM tagged), "
        "accepted AS (SELECT t.ts, t.event_type, t.value FROM tagged t, wm0, gm "
        "WHERE t.bucket < 8 OR t.ts = gm.m "
        "OR date_trunc('hour', t.ts) + INTERVAL 1 HOUR > wm0.wm), "
        "emitted AS (SELECT date_trunc('hour', a.ts) AS h, a.event_type, "
        "count(*) AS n_events, "
        "CAST(round(sum(CAST(a.value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_value "
        "FROM accepted a GROUP BY h, a.event_type) "
        "SELECT CAST(epoch(e.h) AS BIGINT) // 3600 AS hour_bucket, "
        "e.event_type, e.n_events, e.total_value "
        "FROM emitted e, fwm WHERE e.h + INTERVAL 1 HOUR <= fwm.wm "
        "ORDER BY hour_bucket, e.event_type"
    ),
)
def events_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch watermark DROP semantics, driver-graded (C7 — the one
    streaming behavior ``events_streaming_hourly`` deliberately avoids):
    events replayed as THREE micro-batches (single-file phases,
    ``maxFilesPerTrigger=1``) split 70/10/20 by a deterministic md5
    bucket of event_id.  Batch 0 carries the corpus max event time
    (asserted below), so its commit sets the watermark to global-max -
    10 min; batch 1's commit EVICTS and emits every closed window; batch
    2's 20% delivery then meets an active late filter and its
    closed-window rows are dropped (verified: numRowsDroppedByWatermark
    > 0, and without the drop the re-created state would re-emit
    duplicate window rows in append mode — equality with the oracle
    proves both the drop and the single emission).

    The oracle reconstructs the run from the same split, encoding
    Spark's two-version watermark (late filter in batch N uses the
    value that evicted in batch N-1): phases 0-1 are always accepted
    (their batches filtered with wm = 0); a phase-2 row survives iff
    its window end > max(phase-0 ts) - 10 min; a window is emitted iff
    its end <= global max ts - 10 min.  Phase 0 is bucket<7 PLUS every
    row tying the global max ts (same rule in staging and SQL), so the
    argmax is in phase 0 by construction on any corpus.  Window-level
    equality of (count, value-sum) audits drop + finalize, not just a
    drop count.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_late_{base}")
    _ev.stage_events_three_phase(spark, sf_dir, stage_dir)
    s2 = _stream_session(spark, stage_dir)
    # Sanity: staging routes every global-argmax row to phase 0, so the
    # staged phase-0 max must equal the corpus max on ANY corpus.  A
    # mismatch means the staging rule itself regressed — fail loudly.
    staged_p0_max = spark.read.parquet(
        _os.path.join(stage_dir, "phase=0")
    ).agg(F.max("ts")).head()[0]
    global_max = _t(spark, sf_dir, "events").agg(F.max("ts")).head()[0]
    if staged_p0_max != global_max:
        raise RuntimeError(
            "events_streaming_late_data: staged phase 0 lost the corpus "
            f"max ts (phase0 {staged_p0_max}, global {global_max})"
        )
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    agg = _ev.hourly_event_counts(stream, watermark="10 minutes")
    sink = f"dch_stream_late_sink_{base}"
    handle = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_late_data micro-batches did not finish")
    return (
        s2.table(sink)
        .select(
            (F.col("window_start_epoch") / 3600).cast("bigint").alias("hour_bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("hour_bucket", "event_type")
    )


@query(
    "events_streaming_attribution",
    oracle=(
        # identical to the batch twin's oracle: a one-chunk availableNow
        # stream emits the complete interval-join result
        "SELECT c.event_id AS click_id, c.user_id, "
        "CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch, "
        "CAST(count(*) AS BIGINT) AS n_purchases, "
        "CAST(round(sum(CAST(p.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS purchased_value "
        "FROM events c JOIN events p ON c.user_id = p.user_id "
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE "
        "WHERE c.event_type = 'click' AND p.event_type = 'purchase' "
        "GROUP BY click_id, c.user_id, click_epoch "
        "ORDER BY click_id"
    ),
)
def events_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-STREAM interval join executed by the streaming engine
    (C7's joint-state shape: two unbounded watermarked sides, bounded
    click/purchase state): events staged as a file stream, both sides of
    attribute_purchases_to_clicks read from it, raw attributed pairs
    appended to a memory sink by an availableNow micro-batch, then the
    per-click rollup runs batch-side on the sink — output identical to
    the batch twin (events_click_purchase_attribution), which is exactly
    what the oracle grades.

    Determinism: one chunk → one micro-batch, so the starting watermark
    (epoch 0) filters nothing and the inner join emits every pair; the
    multi-batch state-eviction behavior is pinned in
    tests/test_streaming.py where chunk boundaries belong.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    pairs = _ev.attribute_purchases_to_clicks(stream)
    sink = f"dch_stream_attrib_{base}"
    handle = (
        pairs.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_attribution micro-batch hung")
    return (
        s2.table(sink)
        .groupBy("click_id", "user_id", "click_epoch")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum(F.col("purchase_value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("purchased_value"),
        )
        .orderBy("click_id")
    )


@query(
    "events_streaming_dedup_replay",
    oracle=(
        # a correct streaming dedup reproduces the CLEAN corpus exactly,
        # so the oracle never needs to model the redelivery at all
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_value "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
)
def events_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion from at-least-once delivery, executed by the
    REAL streaming engine across micro-batches (C3 x C7 — the batch twin
    is ``events_dedup_ingest``; this runs ``dropDuplicatesWithinWatermark``
    end-to-end): delivery 0 streams the whole corpus, delivery 1 redelivers
    a deterministic ~30% of it (md5 bucket of event_id, the staging rule in
    streaming/events.py:stage_events_with_duplicates), and the deduped sink
    must equal the clean batch aggregate.

    Both dedup paths are exercised on any corpus: a redelivered row whose
    ts is within the 10-minute watermark delay of the corpus max is
    absorbed by live dedup state, while an older one meets the late-row
    filter armed by delivery 0's commit (watermark = max ts - 10 min) and
    is dropped — either way the duplicate never reaches the sink, which is
    exactly what equality with the duplicate-blind oracle proves.

    Scale: dedup state holds only ids newer than watermark - delay —
    bounded by delivery-rate x delay, not stream length; the sink rollup
    is an ordinary partial-agg groupBy.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_dup_{base}")
    _ev.stage_events_with_duplicates(spark, sf_dir, stage_dir)
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    deduped = _ev.dedup_events_stream(stream, watermark="10 minutes")
    sink = f"dch_stream_dedup_{base}"
    handle = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_dedup_replay micro-batches hung")
    return (
        s2.table(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "events_streaming_sessions",
    oracle=(
        # identical to events_sessionization's gaps-and-islands oracle: a
        # one-chunk availableNow stream in complete mode emits every session
        "WITH o AS (SELECT user_id, ts, value, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, value, sum(new_s) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
        "SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch, "
        "count(*) AS n_events, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value "
        "FROM s GROUP BY user_id, sid"
    ),
)
def events_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session windows (C7 — ``events_sessionization`` is
    the batch twin): the same ``session_window`` merge executed by the
    streaming engine's session-state store, complete-mode memory sink,
    availableNow trigger.  One chunk → one micro-batch, so complete-mode
    output equals the batch gaps-and-islands semantics exactly (the
    watermark never finalizes anything early; multi-batch session-merge
    behavior across triggers is engine state machinery, pinned by the
    stream==batch convergence test in tests/test_streaming.py).

    Scale: session state is per live (user, open-session) only; with a
    watermark in append mode (the production setting) closed sessions
    evict — state is bounded by concurrently-active users, not history.
    Reuses the shared one-chunk stage dir (same staging as
    events_streaming_hourly/attribution — zero extra staging I/O).
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    sessions = _ev.sessionize(stream, gap="30 minutes")
    sink = f"dch_stream_sess_{base}"
    handle = (
        sessions.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_sessions micro-batch hung")
    return s2.table(sink).select(
        "user_id", "session_start_epoch", "n_events", "total_value"
    )


@query(
    "events_streaming_user_totals",
    oracle=(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(sum(CAST(roundbankers(value * 1000000, 0) AS BIGINT)) AS BIGINT) "
        "AS total_value_micro, "
        "CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) "
        "AS last_seen_epoch "
        "FROM events GROUP BY user_id"
    ),
)
def events_streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator graded end-to-end (C7's
    ``applyInPandasWithState`` surface — the one streaming shape no SQL
    builtin covers: arbitrary per-key state with idle-timeout eviction):
    per-user running totals accumulated in Arrow-batched Python state,
    update-mode memory sink, availableNow trigger.

    One chunk → one micro-batch → exactly one emitted row per user whose
    totals must equal the batch aggregate.  The value sum is quantized
    per ROW to integer micros with banker's rounding — numpy's
    ``round()`` and DuckDB's ``roundbankers()`` both round the identical
    IEEE double half-to-even, so the oracle equality is exact, and the
    state total is independent of how rows split across micro-batches
    (summing raw doubles in state would not be).

    Scale: state is (3 bigints) x |live users|, bounded by the idle
    timeout; Arrow transfer batches per group — the 10-100x-over-per-row
    Python rule (pyspark_guide) applied to the stateful path.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    # NoTimeout for the finite replay: with a processing-time timeout
    # armed the engine schedules empty batches forever to evaluate it
    # and availableNow never terminates (accumulation is identical; the
    # eviction path is pinned in tests/test_streaming.py).
    totals = _ev.running_user_totals(stream, timeout_minutes=None)
    sink = f"dch_stream_totals_{base}"
    handle = (
        totals.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_user_totals micro-batch hung")
    return s2.table(sink).select(
        "user_id", "n_events", "total_value_micro", "last_seen_epoch"
    )


@query(
    "events_streaming_outer_attribution",
    oracle=(
        # the effective watermark of a two-leg join is the MIN of the
        # legs' own event-time maxima minus the delay (each leg tracks
        # its FILTERED time column) — wm below models exactly that
        "WITH wmb AS (SELECT least("
        "(SELECT max(ts) FROM events WHERE event_type = 'click'), "
        "(SELECT max(ts) FROM events WHERE event_type = 'purchase')) "
        "- INTERVAL 30 MINUTE AS wm), "
        "c AS (SELECT event_id AS click_id, user_id, ts FROM events "
        "WHERE event_type = 'click'), "
        "p AS (SELECT user_id AS pu, ts AS pts, value FROM events "
        "WHERE event_type = 'purchase'), "
        "j AS (SELECT c.click_id, c.user_id, c.ts, p.value FROM c "
        "JOIN p ON c.user_id = pu AND pts >= c.ts "
        "AND pts <= c.ts + INTERVAL 30 MINUTE), "
        "m AS (SELECT click_id, user_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS click_epoch, "
        "CAST(count(*) AS BIGINT) AS n_purchases, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS purchased_value FROM j GROUP BY click_id, user_id, click_epoch), "
        "o AS (SELECT c.click_id, c.user_id, "
        "CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch, "
        "CAST(0 AS BIGINT) AS n_purchases, CAST(0.0 AS DOUBLE) "
        "AS purchased_value FROM c, wmb "
        "WHERE c.ts + INTERVAL 30 MINUTE < wmb.wm AND NOT EXISTS "
        "(SELECT 1 FROM p WHERE pu = c.user_id AND pts >= c.ts "
        "AND pts <= c.ts + INTERVAL 30 MINUTE)) "
        "SELECT * FROM m UNION ALL SELECT * FROM o ORDER BY click_id"
    ),
)
def events_streaming_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-STREAM LEFT OUTER interval join — the watermark-CLOSURE
    semantics the inner variant (events_streaming_attribution) cannot
    show: an unmatched click emits its null-extended row only when the
    watermark passes click_ts + horizon and join state is evicted;
    clicks too recent to close are withheld (never emitted by an
    availableNow replay), which is precisely what the oracle's closed-set
    filter reproduces.

    Two engine behaviors the oracle encodes (both observed on 4.1 and
    load-bearing): the effective watermark is min(max click_ts, max
    purchase_ts) - delay — each leg reports the max of its OWN filtered
    time column, so the sparser leg holds the watermark back — and the
    final eviction runs in the trailing NO-DATA micro-batch after the
    single data batch (one chunk → matched pairs are the complete
    interval join, nothing is lost to cross-batch eviction).  The 1-ms
    watermark truncation can only flip a click within 1 ms of the
    closure boundary — measure-zero on nanosecond-random timestamps.

    Scale: same bounded joint state as the inner variant; outer rows add
    no state, they are emitted at eviction time.
    """
    import os as _os
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    pairs = _ev.attribute_purchases_to_clicks(stream, join_type="left_outer")
    sink = f"dch_stream_outer_{base}"
    handle = (
        pairs.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_outer_attribution hung")
    return (
        s2.table(sink)
        .groupBy("click_id", "user_id", "click_epoch")
        .agg(
            F.count("purchase_id").cast("bigint").alias("n_purchases"),
            F.coalesce(
                F.round(
                    F.sum(F.col("purchase_value").cast("decimal(18,4)")), 2
                ).cast("double"),
                F.lit(0.0),
            ).alias("purchased_value"),
        )
        .orderBy("click_id")
    )


@query(
    "events_streaming_routed_sink",
    oracle=(
        f"WITH keyed AS (SELECT {_node_sql(_USER_TAG_KEY_SQL)} AS node_id, "
        "value FROM events) "
        "SELECT node_id, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) "
        "AS total_value "
        "FROM keyed GROUP BY node_id ORDER BY node_id"
    ),
)
def events_streaming_routed_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data-placement purpose executed by the STREAMING
    engine end-to-end (C1 x C7 — previously pytest-only): events stream
    through ``route_events_to_nodes`` — hash-tagged ``{user:<id>}`` keys,
    ``cluster_node_col`` (the Arrow-batched slot kernel in the stream),
    ``foreachBatch`` writing parquet partitioned by (batch_id, node_id)
    with dynamic partition overwrite (idempotent replay) — then the sink
    DIRECTORY is read back and rolled up per shard.  Equality with the
    key-routing oracle proves the whole path: tagging, CRC16 slotting,
    shard mapping, exactly-once partitioned write, partition-discovered
    read.

    The sink and checkpoint are wiped at entry: a stale checkpoint from
    an earlier process would treat the re-staged files (new names) as
    new data and append a duplicate batch — the idempotency the sink
    provides is per-checkpoint-lineage, so the graded run pins a fresh
    single-batch lineage.

    Scale: stateless routing (no watermark, no state store); the sink
    layout IS the cluster data placement — a downstream per-shard
    consumer reads one node_id=N directory, partition-pruned.
    """
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_stage_{base}")
    _ev.stage_events_as_stream(
        spark, sf_dir, stage_dir, n_chunks=1, single_file_chunks=False
    )
    out_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_routed_{base}")
    ckpt_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_routed_ck_{base}")
    _sh.rmtree(out_dir, ignore_errors=True)
    _sh.rmtree(ckpt_dir, ignore_errors=True)
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    handle = _ev.route_events_to_nodes(stream, out_dir, ckpt_dir)
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("events_streaming_routed_sink micro-batch hung")
    return (
        spark.read.parquet(out_dir)
        .groupBy("node_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("node_id").cast("int").alias("node_id"),
                "n_events", "total_value")
        .orderBy("node_id")
    )


def _neardup_ingest_oracle_sql() -> str:
    from duckdb_cluster_hash_spark.oracle_text import simhash_signatures_cte

    # duplicate-blind: a correct near-dup ingest keeps exactly one doc
    # per distinct 64-bit signature, so the oracle models only the
    # DISTINCT signature set of the batch corpus — never the replay
    return (
        f"WITH {simhash_signatures_cte('documents')}, "
        "u AS (SELECT DISTINCT simhash_lo, simhash_hi FROM simhash) "
        "SELECT (simhash_lo + simhash_hi) % 8 AS sig_bucket, "
        "CAST(count(*) AS BIGINT) AS n_kept, "
        "CAST(sum((simhash_lo * 31 + simhash_hi) % 1000003) AS BIGINT) "
        "AS sig_checksum "
        "FROM u GROUP BY sig_bucket ORDER BY sig_bucket"
    )


@query("docs_streaming_neardup_ingest", oracle=_neardup_ingest_oracle_sql())
def docs_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup AT INGEST TIME, executed by the REAL micro-batch
    engine across batches (the C4 x C7 intersection the batch near-dup
    family leaves open): documents replayed as THREE micro-batches
    (doc_id % 3 chunks, maxFilesPerTrigger=1 — planted near-dups SPAN
    batches by construction), each row fingerprinted IN-STREAM by the
    projection SimHash (operators/dedup.simhash64_project — same 64
    bits as the batch simhash64, but shuffle-free so it legally chains
    into the stateful operator), then
    ``dropDuplicatesWithinWatermark(simhash_lo, simhash_hi)`` keeps the
    first-arrived doc per signature with state bounded by the 10-minute
    watermark delay.  A doc whose text near-duplicates an earlier doc
    closely enough to share all 64 SimHash bits — the signature-level
    near-dup rule, the same identity docs_simhash_neardup_pairs bands
    at distance 0 — is dropped before it ever reaches the sink, even
    when the original arrived BATCHES earlier.

    Grading: the duplicate-blind oracle computes the distinct-signature
    set of the batch corpus; the sink rollup (signature-PURE columns
    only — counts and checksums of the signatures themselves, so the
    grade cannot depend on which member of a same-signature group won
    intra-batch arrival) must match it exactly — one kept row per
    distinct signature, none lost, none duplicated across batches.

    Scale: the fingerprint is a per-row projection (no pre-shuffle);
    dedup state holds one 16-byte key per distinct signature newer
    than the watermark — bounded by ingest-rate x delay, not stream
    length; the sink rollup is an ordinary partial-agg groupBy.
    """
    import os as _os
    import tempfile as _tf

    from duckdb_cluster_hash_spark.operators.dedup import simhash64_project

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_docs_{base}")
    _ev.stage_documents_as_stream(spark, sf_dir, stage_dir)
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    deduped = (
        simhash64_project(stream, "text")
        .select("ts", "simhash_lo", "simhash_hi")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["simhash_lo", "simhash_hi"])
    )
    sink = f"dch_stream_docdedup_{base}"
    handle = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("docs_streaming_neardup_ingest micro-batches hung")
    return (
        s2.table(sink)
        .groupBy(
            ((F.col("simhash_lo") + F.col("simhash_hi")) % 8).alias("sig_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum(
                (F.col("simhash_lo") * 31 + F.col("simhash_hi")) % 1000003
            )
            .cast("bigint")
            .alias("sig_checksum"),
        )
        .orderBy("sig_bucket")
    )


def _media_dedup_oracle_sql() -> str:
    from duckdb_cluster_hash_spark.plans.dedup_text import _image_band_head

    # duplicate-blind: a correct media dedup-at-ingest keeps exactly
    # one image per distinct 64-bit dHash signature, so the oracle
    # models only the DISTINCT signature set of the batch corpus —
    # bucket/checksum columns are signature-PURE (pack the 8 bands
    # into two 32-bit halves, the SimHash ingest's grading shape)
    wide = ", ".join(
        f"CAST(max(CASE WHEN gy = {i} THEN band END) AS BIGINT) AS b{i}"
        for i in range(8)
    )
    lo = " + ".join(f"b{i} * {1 << (8 * i)}" for i in range(4))
    hi = " + ".join(f"b{i + 4} * {1 << (8 * i)}" for i in range(4))
    return (
        _image_band_head()
        + f", w8 AS (SELECT d, {wide} FROM b GROUP BY d), "
        "u AS (SELECT DISTINCT b0, b1, b2, b3, b4, b5, b6, b7 FROM w8), "
        f"pk AS (SELECT {lo} AS lo, {hi} AS hi FROM u) "
        "SELECT (lo + hi) % 8 AS sig_bucket, "
        "CAST(count(*) AS BIGINT) AS n_kept, "
        "CAST(sum((lo * 31 + hi) % 1000003) AS BIGINT) AS sig_checksum "
        "FROM pk GROUP BY sig_bucket ORDER BY sig_bucket"
    )


@query("docs_streaming_media_dedup", oracle=_media_dedup_oracle_sql())
def docs_streaming_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL media dedup AT INGEST TIME, executed by the REAL
    micro-batch engine across batches — the multimodal twin of
    docs_streaming_neardup_ingest (C4 x C7 over binary media instead
    of text): documents replayed as THREE micro-batches, each row's
    PNM image synthesized and decoded IN-STREAM by the Arrow dHash
    kernel (operators/multimodal.pnm_dhash with the event-time column
    carried through — mapInPandas is a stream-safe projection, so it
    legally chains into the stateful operator), then
    ``dropDuplicatesWithinWatermark(b0..b7)`` keeps the first-arrived
    image per 64-bit perceptual signature with state bounded by the
    10-minute watermark delay.  An image whose raster perceptually
    duplicates an earlier one — all 64 dHash bits equal, the identity
    docs_image_neardup_pairs clusters at distance 0 — is dropped
    before the sink even when the original arrived BATCHES earlier.

    Grading: the duplicate-blind oracle re-derives the distinct dHash
    signature set from the generator's closed form; the sink rollup
    (signature-PURE bucket/checksum columns, so the grade cannot
    depend on which member of a signature class won intra-batch
    arrival) must match exactly — one kept row per distinct
    signature, none lost, none duplicated across batches.

    Scale: decode + fingerprint is an Arrow-batched per-row projection
    (no pre-shuffle; rasters never leave the Python worker); dedup
    state holds 8 small ints per distinct signature newer than the
    watermark — bounded by ingest-rate x delay; the sink rollup is an
    ordinary partial-agg groupBy.  Shares the staged replay directory
    with the text ingest query (one staging pass per corpus per
    process).
    """
    import os as _os
    import tempfile as _tf

    from duckdb_cluster_hash_spark.operators import multimodal as _mm

    base = "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    stage_dir = _os.path.join(_tf.gettempdir(), f"dch_stream_docs_{base}")
    _ev.stage_documents_as_stream(spark, sf_dir, stage_dir)
    s2 = _stream_session(spark, stage_dir)
    stream = (
        s2.readStream.schema(_ev.DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    bands = [f"b{i}" for i in range(8)]
    deduped = (
        _mm.pnm_dhash(
            _mm.attach_fake_pnm(stream.select("doc_id", "ts")),
            carry=("ts",),
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(bands)
    )
    sink = f"dch_stream_mediadedup_{base}"
    handle = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not handle.awaitTermination(300):
        handle.stop()
        raise RuntimeError("docs_streaming_media_dedup micro-batches hung")
    lo = sum(F.col(f"b{i}").cast("bigint") * (1 << (8 * i)) for i in range(4))
    hi = sum(
        F.col(f"b{i + 4}").cast("bigint") * (1 << (8 * i)) for i in range(4)
    )
    return (
        s2.table(sink)
        .select(lo.alias("lo"), hi.alias("hi"))
        .groupBy(((F.col("lo") + F.col("hi")) % 8).alias("sig_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum((F.col("lo") * 31 + F.col("hi")) % 1000003)
            .cast("bigint")
            .alias("sig_checksum"),
        )
        .orderBy("sig_bucket")
    )
