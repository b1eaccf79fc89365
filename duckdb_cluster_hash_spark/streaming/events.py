"""Structured Streaming over the ``events`` table (SURVEY.md §2 Tier C7).

The reference computes placement for streams of keys; the Spark-native
completion is an actual streaming pipeline: file-source ingest ->
watermarked event-time windows -> per-shard routed sinks.

Every aggregation here works identically on a batch DataFrame (pass the
batch table to the same function) — that is how the DuckDB oracle checks
streaming semantics, and how the tests assert stream == batch.

Scale notes: watermarks bound state (late data beyond the delay is
dropped); ``foreachBatch`` + ``partitionBy(node_id)`` gives exactly-once
per-shard output directories with state-store-free routing;
``cluster_node`` is the Arrow slot kernel plus JVM node arithmetic, a
stateless scalar Arrow UDF that Structured Streaming runs per batch.

REPLAY HARNESS: every catalog streaming query replays a staged corpus.
:data:`REPLAYS` is the fixture table (stager, schema, files per
trigger per kind); :func:`stage` writes a kind once per process into
its :func:`scratch_dir`; :func:`replay_stream` opens the stream in a
derived-width session clone; :func:`run_to_sink` / :func:`drain` run
it under the one :data:`REPLAY_TIMEOUT_S`.  A query body keeps only
its operator and its rollup.

FIXED-COST FLOOR (measured round 8, sf0.1, local[32], sequential): the 8
TRUE streaming catalog queries sum 27.4s cold / 16.9s warm.  The 10.5s
cold-warm gap is one-time staging, ALREADY shared per process via
``stage`` (six queries read the same staged dir; bench pays it once
through ``stage_all``).  The warm ~2.1s/query is micro-batch engine
overhead — per query: a fresh session clone, stream source listing,
state-store init/commit per batch, memory-sink collect — with the
single-batch floor at ~1.2s (``events_streaming_hourly``) and the rest
scaling with their REQUIRED batch counts.  The three shareable-cost
candidates were each checked: (a) staging — already shared; (b)
checkpoint-root reuse across runs — semantically wrong here (committed
offsets would SKIP the replay that is the graded behavior); (c)
state-store width — every query already clones its session at
shuffle.partitions=8.  Multi-batch replays exist only where the oracle
grades batch-boundary semantics (late_data's 3-phase watermark eviction,
dedup_replay's cross-batch state); no phase is removable without
un-grading the behavior it exists to pin.  Treat ~17s warm (≤ ~30s under
8-way bench contention) as the documented floor for this suite rather
than a regression signal.

ROUTED-SINK RE-PROFILE (round 11, 2026-08-15, sf0.1, local[32],
standalone): cold 11.4s / warm 3.15s, of which 2.33s is the single
foreachBatch micro-batch run (the engine floor above), 0.31s the
partition-discovered read-back rollup, 0.0s staging (memoized).  The
remaining candidate from the r10 review — sharing one staged stream +
session across the routed sink and the outer-attribution pair — was
checked and declined: the stage dir is ALREADY process-shared
(``stage``), a session clone costs ~0 (no JVM spin-up), and the two
queries cannot share one STREAM execution without merging two
independently graded sinks into one lineage (un-grading the per-query
exactly-once replay each oracle pins).  The 11.4s figure in BENCH_r10
is 8-way contention + first-run staging amortized into whichever
streaming query runs first, not plan debt.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from duckdb_cluster_hash_spark.core import DEFAULT_NODES
from duckdb_cluster_hash_spark.functions.clusterhash import cluster_node_col
from duckdb_cluster_hash_spark.sources.tables import load_table

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

DOCS_STREAM_SCHEMA = "doc_id bigint, text string, ts timestamp"

__all__ = [
    "EVENTS_SCHEMA",
    "DOCS_STREAM_SCHEMA",
    "REPLAYS",
    "REPLAY_TIMEOUT_S",
    "Replay",
    "drain",
    "replay_stream",
    "run_to_sink",
    "scratch_dir",
    "stage",
    "stage_all",
    "staged_stream_shuffle_partitions",
    "write_event_chunks",
    "read_events_stream",
    "hourly_event_counts",
    "sliding_window_rates",
    "sessionize",
    "route_events_to_nodes",
    "running_user_totals",
    "dedup_events_stream",
    "enrich_events_with_dim",
    "attribute_purchases_to_clicks",
]


def enrich_events_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the (possibly streaming) events fact
    to a static dimension on ``user_id = c_custkey`` (C7 x B-tier join).

    A stream-static equi join is STATELESS in Structured Streaming — each
    micro-batch probes the static side, no state store, no watermark
    needed.  The static side is explicitly broadcast: at 100 TB the fact
    stream never shuffles for this join, every executor holds the (small)
    dimension hash table.  Works identically on a batch DataFrame, which
    is how the DuckDB oracle grades it.
    """
    return events.join(
        F.broadcast(dim.select("c_custkey", "c_mktsegment")),
        events.user_id == F.col("c_custkey"),
        "left_outer",
    ).drop("c_custkey")


def attribute_purchases_to_clicks(
    events: DataFrame,
    purchases: DataFrame | None = None,
    horizon_minutes: int = 30,
    watermark: str = "30 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-STREAM interval join: attribute each purchase to the clicks
    that preceded it by at most ``horizon_minutes`` for the same user —
    the canonical attribution query, and the one streaming shape the rest
    of this module doesn't cover (two unbounded sides, joint state).

    In streaming mode both sides carry a watermark and the join condition
    bounds purchase time to [click_ts, click_ts + horizon], so Spark can
    evict click state once the purchase-side watermark passes the horizon
    and purchase state immediately — bounded state, runs forever.  The
    equality key ``user_id`` keeps it a hash join (both streams shuffle
    on user_id once; no time-only join, which would be a cross product).

    Batch mode is the identical join expression — that twin is what the
    DuckDB oracle checks and what the stream==batch test asserts.

    Returns (click_id, user_id, click_epoch, n_purchases, purchased_value)
    aggregated per click in batch mode; in streaming mode returns the
    raw joined pairs (append-mode aggregation after a stream-stream join
    would need a second watermark pass — callers aggregate downstream).
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    buys = (purchases if purchases is not None else events).where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        buys = buys.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
        )
    )
    # join_type="left_outer" is the streaming outer-join surface: matched
    # pairs emit immediately; an unmatched click emits one null-extended
    # row when the watermark passes click_ts + horizon and its state is
    # evicted.  NOTE the watermark each leg reports is the max of ITS OWN
    # filtered time column, and the query's effective watermark is the
    # MIN across legs — min(max click_ts, max purchase_ts) - delay —
    # which is what the catalog oracle models (observed on 4.1: the
    # trailing no-data micro-batch performs the final eviction).
    joined = clicks.join(buys, cond, join_type)
    if events.isStreaming:
        return joined.select(
            "click_id",
            F.col("c_user").alias("user_id"),
            F.unix_timestamp("click_ts").alias("click_epoch"),
            "purchase_id",
            "purchase_value",
        )
    return (
        joined.groupBy(
            "click_id",
            F.col("c_user").alias("user_id"),
            F.unix_timestamp("click_ts").alias("click_epoch"),
        )
        .agg(
            # count the purchase key, not "*": identical under inner join,
            # and correct (0, not 1) for a left_outer batch twin's
            # unmatched clicks
            F.count("purchase_id").alias("n_purchases"),
            F.round(F.sum(F.col("purchase_value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("purchased_value"),
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once ingestion from at-least-once delivery (C3 x C7).

    Kafka-style sources redeliver on retry; dropping redelivered
    ``event_id``s is the first stage of every production ingest.  In
    streaming mode ``dropDuplicatesWithinWatermark`` keeps one state
    entry per id only until the watermark passes it — bounded state, so
    it runs forever; the batch equivalent is a plain
    ``dropDuplicates(["event_id"])``, which is how the oracle and the
    stream==batch test check it.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def scratch_dir(name: str, sf_dir: str) -> str:
    """``<tmp>/dch_<name>_<corpus>``: the one naming rule for every
    per-corpus scratch directory (replay stages, lake-op tables, sinks).

    ``<corpus>`` is the corpus basename made identifier-safe plus 8 hex
    digits of the sha1 of its ABSOLUTE path: two corpora that share a
    basename (``a/sf`` and ``b/sf``) must never share a directory, or
    staging one would overwrite the other's replay while the stage-once
    memo still marks it done.  The basename of the result is a valid SQL
    identifier, so callers may use it as a table name.
    """
    path = os.path.abspath(sf_dir)
    base = "".join(c if c.isalnum() else "_" for c in os.path.basename(path))
    digest = hashlib.sha1(path.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"dch_{name}_{base}_{digest}")


def staged_stream_shuffle_partitions(
    stage_dir: str, target_bytes: int = 32 << 20
) -> int:
    """State-store width DERIVED FROM THE STAGED REPLAY VOLUME — one
    shuffle partition per ``target_bytes`` of staged parquet, floor 1.

    The fixed width 8 used through round 14 was a constant tuned to
    neither scale: at sf0.1 (≤2 MB staged) 7 of the 8 state-store
    partitions were empty, yet every micro-batch still paid their store
    opens/commits (a 3-batch replay = 24 commits where 3 suffice), and
    at 100 TB a width of 8 would be absurdly narrow.  Deriving from the
    input volume gives 1 at test scale and thousands at cluster scale
    from the same rule; the per-batch state commit count scales with the
    data instead of with a constant.  Partition count never changes
    which rows a stateful operator sees for a key (hash partitioning by
    key is total), so results are unchanged at any width.

    Caveat: Spark pins ``numShufflePartitions`` from an existing
    checkpoint's offset log, so a query RESUMED from a checkpoint keeps
    the width it started with, whatever this returns now.  Only a query
    that wipes its checkpoint first (as ``events_streaming_routed_sink``
    does) is guaranteed the derived width.
    """
    total = 0
    for root, _dirs, files in os.walk(stage_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return max(1, -(-total // target_bytes))


def _md5_bucket(col: str):
    """``md5(id)`` digest bucket 0-9 — the oracles' convention
    ``('0x'||substr(md5(id),1,15))::BIGINT % 10``, so DuckDB can
    reconstruct exactly which rows a staged delivery carried."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )


def _pin_delivery_order(out_dir: str, part: str, n: int) -> None:
    """Give ``<part>=0..n-1`` one file each, with increasing mtimes.

    The file source orders by modification time; a single job commits
    all files at ~the same instant, so delivery order is pinned
    explicitly instead of trusting sub-second mtime accidents.
    """
    import glob
    import time

    base = time.time() - 100
    for i in range(n):
        files = glob.glob(os.path.join(out_dir, f"{part}={i}", "*.parquet"))
        if len(files) != 1:
            raise RuntimeError(
                f"{part}={i} staged {len(files)} files; expected exactly 1"
            )
        os.utime(files[0], (base + i, base + i))


def write_event_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4,
    single_file_chunks: bool = True,
) -> None:
    """Write the batch events table as ``n_chunks`` parquet chunks.

    Chunks are contiguous ``event_id`` ranges, so event time is roughly
    monotone across files (with natural intra-chunk disorder) — a
    realistic replay source for watermark tests (FIXTURES.md §6).
    ``single_file_chunks`` coalesces each chunk to one file (needed when
    a test keys micro-batches to files via maxFilesPerTrigger); pass
    False when chunk = batch boundary is enough — the write then keeps
    the upstream parallelism instead of funneling through one task.
    The ``events`` replay is the one-chunk, multi-file form.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("event_id"), F.max("event_id")).head()
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + n_chunks) // n_chunks
    for i in range(n_chunks):
        chunk = ev.where(
            (F.col("event_id") >= lo + i * step)
            & (F.col("event_id") < lo + (i + 1) * step)
        )
        if single_file_chunks:
            chunk = chunk.coalesce(1)
        chunk.write.mode("overwrite").parquet(os.path.join(out_dir, f"chunk={i}"))


def _write_three_phase(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Replay-stage events as THREE single-file deliveries — 70% / 10% /
    20% of the rows, selected by the md5 bucket of ``event_id``.

    Three phases, not two, because of HOW Spark applies watermarks
    (observed on 4.1, consistent with the two-version watermark design):
    within micro-batch N the LATE-ROW FILTER uses the watermark that
    evicted state in batch N-1, while EVICTION uses the advanced value.
    So batch 1's late rows still merge into live state (filter wm = 0);
    only after batch 1's commit evicts the closed windows does batch 2's
    delivery meet an active filter and actually DROP.  Phase 0 carries
    the corpus max event time BY CONSTRUCTION — every row tying the
    global max ts is assigned to phase 0 regardless of its md5 bucket, a
    rule the DuckDB oracle replays verbatim — so the watermark after
    batch 0 is global-max - delay on ANY corpus (a bucket-only split
    would strand the argmax in the late phase with p≈0.3 per corpus
    regeneration).  Files are written in phase order so the file
    source's (mtime, path) ordering replays delivery order.
    """
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts")).head()[0]
    bucket = _md5_bucket("event_id")
    phase = (
        F.when((bucket < 7) | (F.col("ts") == F.lit(gmax)), 0)
        .when(bucket == 7, 1)
        .otherwise(2)
        .alias("phase")
    )
    # ONE scan writes all three phases (hash-partitioning by phase keeps
    # each phase in a single task, so each phase dir gets exactly one
    # file — required by maxFilesPerTrigger=1 batch∶phase mapping)
    (
        ev.withColumn("phase", phase)
        .repartition(3, F.col("phase"))
        .write.mode("overwrite")
        .partitionBy("phase")
        .parquet(out_dir)
    )
    _pin_delivery_order(out_dir, "phase", 3)


def _write_duplicates(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Replay-stage events as TWO single-file deliveries: delivery 0 is
    the complete corpus; delivery 1 REDELIVERS ~30% of it (md5 bucket of
    ``event_id`` < 3), simulating an at-least-once source retrying a
    partially-acked batch.

    Every redelivered row is a byte-identical copy of a delivery-0 row,
    so a correct streaming dedup must reproduce the clean corpus exactly
    — whether a duplicate is absorbed by live state (its ``ts`` is
    within the watermark delay of the max) or dropped by the late-row
    filter (its ``ts`` is older than the post-delivery-0 watermark),
    the observable output is the same.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "delivery=0")
    )
    ev.where(_md5_bucket("event_id") < 3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "delivery=1"))
    _pin_delivery_order(out_dir, "delivery", 2)


def _write_doc_chunks(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Replay-stage the DOCUMENTS table as three single-file parquet
    chunks for the near-dup ingest streams (DOCS_STREAM_SCHEMA): chunk i
    carries doc_id % 3 == i, so the planted near-dup pairs of the corpus
    are SPREAD ACROSS micro-batches (contiguous ranges would let most
    duplicates dedup inside one batch and leave the cross-batch state
    path untested).

    The synthetic event time ``ts = 2024-01-01 + (doc_id % 540)
    seconds`` keeps the whole replay inside a 9-minute span — strictly
    under the ingest queries' 10-minute watermark delay, so no document
    is ever dropped as LATE and the kept set is exactly one doc per
    distinct signature (the late-drop path is pinned separately by
    events_streaming_dedup_replay/late_data, where arrival phases are
    engineered for it).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(
            "timestamp'2024-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, 0, 0, doc_id % 540)"
        ).alias("ts"),
    )
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"chunk={i}"))


@dataclass(frozen=True)
class Replay:
    """One staged replay fixture: the write that stages it, the schema
    its file-source stream reads, and the files each micro-batch takes
    (None: every staged file in one batch)."""

    write: Callable[[SparkSession, str, str], None]
    schema: str
    files_per_trigger: int | None


REPLAYS: dict[str, Replay] = {
    # one chunk, one micro-batch (hourly, attribution, sessions,
    # user_totals, outer_attribution, routed_sink)
    "events": Replay(
        lambda spark, sf_dir, out_dir: write_event_chunks(
            spark, sf_dir, out_dir, n_chunks=1, single_file_chunks=False
        ),
        EVENTS_SCHEMA,
        None,
    ),
    # 70/10/20 watermark phases (late_data)
    "three_phase": Replay(_write_three_phase, EVENTS_SCHEMA, 1),
    # full corpus + 30% redelivery (dedup_replay)
    "duplicates": Replay(_write_duplicates, EVENTS_SCHEMA, 1),
    # doc_id % 3 document chunks (neardup_ingest, media_dedup)
    "docs": Replay(_write_doc_chunks, DOCS_STREAM_SCHEMA, 1),
}

# Staging is once per stage dir (one per kind and corpus) per process
# and lock-serialized: several catalog queries share one staged replay dir
# (one staging I/O pass serves them all), and two concurrent overwrite
# writers into the same path race on the _temporary dir (observed as
# FileNotFoundException under the bench's FAIR pool).
_STAGE_LOCK = threading.Lock()
_STAGED: set[str] = set()

# The one wait bound for a catalog replay: availableNow drains a finite
# stage, so a query still running after this is hung, not slow.
REPLAY_TIMEOUT_S = 300


def stage(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Stage the ``kind`` replay (a key of :data:`REPLAYS`) of corpus
    ``sf_dir`` into its scratch dir, once per process; returns the dir."""
    out_dir = scratch_dir(f"stream_{kind}", sf_dir)
    with _STAGE_LOCK:
        if out_dir not in _STAGED:
            REPLAYS[kind].write(spark, sf_dir, out_dir)
            _STAGED.add(out_dir)
    return out_dir


def stage_all(spark: SparkSession, sf_dir: str) -> None:
    """Stage every replay in :data:`REPLAYS` for the corpus — the whole
    fixture set the streaming catalog reads, so a harness can pay the
    one-time staging I/O off the clock."""
    for kind in REPLAYS:
        stage(spark, kind, sf_dir)


def _open_stream(
    spark: SparkSession, schema: str, files_per_trigger: int | None,
    source_dir: str,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.option("recursiveFileLookup", "true").parquet(source_dir)


def replay_stream(spark: SparkSession, kind: str, sf_dir: str) -> DataFrame:
    """Stage the ``kind`` replay and open its file-source stream in an
    isolated session clone (``stream.sparkSession``; shared
    SparkContext) whose shuffle width — and therefore state-store
    partition count — is :func:`staged_stream_shuffle_partitions` of
    the stage, kept off the caller's batch config.

    Default (HDFS-backed) state store: RocksDB measured slower at replay
    state sizes (plans/r15/isolate_r15_rocksdb_rejected.json); a
    providerClass set in the SparkContext conf still reaches the clone.
    """
    stage_dir = stage(spark, kind, sf_dir)
    fx = REPLAYS[kind]
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.shuffle.partitions",
        str(staged_stream_shuffle_partitions(stage_dir)),
    )
    return _open_stream(s2, fx.schema, fx.files_per_trigger, stage_dir)


def drain(handle: StreamingQuery) -> None:
    """Wait for an ``availableNow`` query to finish; if it is still
    running after :data:`REPLAY_TIMEOUT_S`, stop it and raise
    (``awaitTermination`` returns False on timeout instead of raising)."""
    if not handle.awaitTermination(REPLAY_TIMEOUT_S):
        handle.stop()
        raise RuntimeError(
            f"streaming query {handle.name or handle.id} did not finish "
            f"in {REPLAY_TIMEOUT_S}s"
        )


def run_to_sink(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run streaming ``df`` to completion into the memory sink
    ``dch_stream_<name>`` (``availableNow``, :func:`drain`) and return
    the sink table."""
    sink = f"dch_stream_{name}"
    drain(
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return df.sparkSession.table(sink)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over staged event chunks (one file per trigger,
    so multi-batch behavior is exercised even with availableNow)."""
    return _open_stream(spark, EVENTS_SCHEMA, 1, source_dir)


def hourly_event_counts(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type.

    Works on both streaming and batch inputs; on a stream the watermark
    bounds state and drops late data beyond the delay.
    """
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            (F.unix_timestamp(F.col("w.start"))).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_rates(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes: event rate per window."""
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "n_events",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge.

    Batch mode gives the exact gaps-and-islands semantics the DuckDB
    oracle replicates; streaming mode is the same call with state bounded
    by the watermark.
    """
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        ev.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
            "total_value",
        )
    )


def route_events_to_nodes(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_nodes: int = DEFAULT_NODES,
    trigger_available_now: bool = True,
):
    """Stream sink: route each event to its owning shard directory.

    Key = ``{user:<id>}`` (hash-tagged, so a user's events co-locate);
    node via ``cluster_node_col`` (one Arrow-batched slot evaluation per
    micro-batch).  foreachBatch writes parquet partitioned by (batch_id,
    node_id) with DYNAMIC partition overwrite: a replayed micro-batch
    overwrites its own batch_id partitions instead of appending
    duplicates, making the sink idempotent (exactly-once output on
    at-least-once execution).
    """
    keyed = events.withColumn(
        "node_id",
        cluster_node_col(
            F.concat(F.lit("{user:"), F.col("user_id").cast("string"), F.lit("}")),
            n_nodes,
        ),
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "node_id")
            .parquet(out_dir)
        )

    writer = (
        keyed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def running_user_totals(events: DataFrame, timeout_minutes: int | None = 60):
    """Custom stateful operator: per-user running totals with idle timeout.

    ``applyInPandasWithState``: state = (n_events, total_value_micro,
    last_ts_epoch) per user_id, updated per micro-batch from Arrow
    batches; a user idle past the timeout emits a final summary row and
    drops its state (bounding state size — the 100 TB requirement for
    any unbounded stream).  Emits one row per user per batch:
    (user_id, n_events, total_value, last_seen_epoch, closed).

    ``timeout_minutes=None`` disables the idle timeout: with a
    processing-time timeout armed, the engine keeps scheduling empty
    micro-batches to evaluate it, so an ``availableNow`` replay never
    terminates — the finite-replay (and oracle-graded) mode runs with
    NoTimeout and identical accumulation semantics, while the eviction
    path stays pinned by the timeout-ful streaming test.

    Batch-mode equivalent (for oracles/tests): groupBy(user_id).agg(...)
    — the streaming operator's final state must converge to it.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, total_value_micro bigint, "
        "last_seen_epoch bigint, closed boolean"
    )
    state_schema = "n bigint, total_micro bigint, last_epoch bigint"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, total, last = state.get
            state.remove()
            yield pd.DataFrame(
                [[user_id, n, total, last, True]],
                columns=["user_id", "n_events", "total_value_micro",
                         "last_seen_epoch", "closed"],
            )
            return
        n, total, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-ROW integer quantization: the total is independent of
            # how rows split across micro-batches (summing floats first
            # would make state depend on chunking)
            total += int(pdf["value"].mul(1e6).round().astype("int64").sum())
            last = max(last, int(pdf["ts"].astype("int64").max() // 1_000_000_000))
        state.update((n, total, last))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            [[user_id, n, total, last, False]],
            columns=["user_id", "n_events", "total_value_micro",
                     "last_seen_epoch", "closed"],
        )

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )

