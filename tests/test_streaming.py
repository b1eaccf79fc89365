"""Structured Streaming behavior: staged-file replay, watermark-closed
windows equal the batch computation, per-shard routed sink layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.sources import load_table
from duckdb_cluster_hash_spark.streaming import (
    hourly_event_counts,
    read_events_stream,
    route_events_to_nodes,
    sessionize,
    stage,
    write_event_chunks,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    write_event_chunks(spark, SF, out, n_chunks=4)
    return out


def test_staging_preserves_events(spark, staged):
    batch = load_table(spark, SF, "events")
    restaged = spark.read.option("recursiveFileLookup", "true").parquet(staged)
    assert restaged.count() == batch.count()
    assert restaged.select(F.sum("event_id")).head()[0] == \
        batch.select(F.sum("event_id")).head()[0]


def _run_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout WITHOUT raising;
    # under full-suite contention an availableNow replay can exceed any
    # fixed budget, and reading the sink early fails the test on a
    # partially-filled table.  Assert completion instead of racing it.
    finished = q.awaitTermination(600)
    assert finished, f"stream {name} still running after 600s"
    return spark.table(name)


def test_hourly_stream_matches_batch_for_closed_windows(spark, staged):
    stream = read_events_stream(spark, staged)
    got = _run_to_memory(
        spark, hourly_event_counts(stream, watermark="10 minutes"), "hourly_sink"
    ).collect()
    batch = {
        (r["window_start_epoch"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in hourly_event_counts(load_table(spark, SF, "events")).collect()
    }
    assert len(got) > 0
    # append mode emits only watermark-finalized windows; each must equal batch
    for r in got:
        key = (r["window_start_epoch"], r["event_type"])
        assert batch[key] == (r["n_events"], r["total_value"]), key
    # windows closed well before the final watermark must all have been emitted
    ev = load_table(spark, SF, "events")
    max_ts = ev.agg(F.max("ts")).head()[0]
    import datetime
    wm_epoch = (max_ts - datetime.timedelta(minutes=10)).timestamp()
    emitted = {(r["window_start_epoch"], r["event_type"]) for r in got}
    closed = {
        k for k in batch
        # one micro-batch of watermark lag: require end <= wm of the
        # second-to-last batch, approximated by an extra hour of slack
        if k[0] + 3600 <= wm_epoch - 3600
    }
    assert closed <= emitted


def test_sessionize_stream_subset_of_batch(spark, staged):
    stream = read_events_stream(spark, staged)
    got = _run_to_memory(
        spark, sessionize(stream, gap="30 minutes"), "session_sink"
    ).collect()
    batch = {
        (r["user_id"], r["session_start_epoch"]): (r["n_events"], r["total_value"])
        for r in sessionize(load_table(spark, SF, "events")).collect()
    }
    assert len(got) > 0
    for r in got:
        key = (r["user_id"], r["session_start_epoch"])
        assert batch[key] == (r["n_events"], r["total_value"]), key


def test_route_events_to_nodes_layout(spark, staged, tmp_path):
    out = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, staged)
    q = route_events_to_nodes(stream, out, ckpt, n_nodes=6)
    q.awaitTermination(120)
    # idempotent layout: batch_id=N/node_id=K
    batch_dirs = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert batch_dirs, "no batch directories written"
    node_dirs = {
        d
        for b in batch_dirs
        for d in os.listdir(os.path.join(out, b))
        if d.startswith("node_id=")
    }
    assert node_dirs, "no per-node directories written"
    routed = spark.read.parquet(out)
    batch = load_table(spark, SF, "events")
    assert routed.count() == batch.count()
    # per-node counts must match the batch-mode routing query
    from duckdb_cluster_hash_spark.functions.clusterhash import cluster_node_col

    expected = {
        r["node_id"]: r["cnt"]
        for r in batch.select(
            cluster_node_col(
                F.concat(F.lit("{user:"), F.col("user_id").cast("string"), F.lit("}"))
            ).alias("node_id")
        )
        .groupBy("node_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    got = {
        r["node_id"]: r["cnt"]
        for r in routed.groupBy("node_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == expected
    # hash-tag co-location: every user's events land on exactly one node
    multi = (
        routed.groupBy("user_id")
        .agg(F.countDistinct("node_id").alias("n"))
        .where("n > 1")
        .count()
    )
    assert multi == 0


def test_running_user_totals_stateful(spark, staged):
    """applyInPandasWithState converges to the batch aggregate."""
    from duckdb_cluster_hash_spark.streaming.events import running_user_totals

    stream = read_events_stream(spark, staged)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("state_sink")
    # last emission per user (updates accumulate in the memory sink)
    latest = {
        r["user_id"]: (r["n_events"], r["total_value_micro"])
        for r in got.orderBy("user_id", "n_events").collect()
    }
    batch = load_table(spark, SF, "events")
    expected = {}
    for r in (
        batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.collect_list("value").alias("vals"))
        .collect()
    ):
        expected[r["user_id"]] = r["n"]
    assert len(latest) == len(expected)
    for uid, (n, _total) in latest.items():
        assert n == expected[uid], uid


def test_stream_dedup_drops_redelivered_ids(spark, staged, tmp_path):
    """dropDuplicatesWithinWatermark: a doubled delivery (every chunk
    staged twice) dedups back to the batch-distinct event set."""
    import shutil

    from duckdb_cluster_hash_spark.streaming.events import dedup_events_stream

    doubled = str(tmp_path / "doubled")
    os.makedirs(doubled)
    for d in os.listdir(staged):
        shutil.copytree(os.path.join(staged, d), os.path.join(doubled, d))
        shutil.copytree(os.path.join(staged, d), os.path.join(doubled, d + "_redelivered"))
    stream = read_events_stream(spark, doubled)
    got = _run_to_memory(spark, dedup_events_stream(stream), "dedup_sink")
    batch = load_table(spark, SF, "events")
    assert got.count() == batch.count()
    assert got.select(F.sum("event_id")).head()[0] == \
        batch.select(F.sum("event_id")).head()[0]
    # batch mode goes through the same entry point
    doubled_batch = batch.unionByName(batch)
    assert dedup_events_stream(doubled_batch).count() == batch.count()


def test_enrich_stream_matches_batch(spark, staged):
    from duckdb_cluster_hash_spark.streaming import enrich_events_with_dim

    dim = load_table(spark, SF, "customer")
    stream = read_events_stream(spark, staged)
    got = _run_to_memory(
        spark, enrich_events_with_dim(stream, dim), "enrich_sink"
    )
    batch = enrich_events_with_dim(load_table(spark, SF, "events"), dim)
    # stream-static join is stateless: every input row must come out,
    # enriched identically to the batch join
    assert got.count() == batch.count()
    g = got.groupBy("c_mktsegment").count().collect()
    b = batch.groupBy("c_mktsegment").count().collect()
    assert {(r["c_mktsegment"], r["count"]) for r in g} == \
        {(r["c_mktsegment"], r["count"]) for r in b}


def test_enrich_is_streaming_and_batch_plan_broadcasts(spark, staged):
    from duckdb_cluster_hash_spark.streaming import enrich_events_with_dim

    dim = load_table(spark, SF, "customer")
    stream = read_events_stream(spark, staged)
    # the stream side stays a stream (stateless stream-static join —
    # no watermark required, no state store)
    assert enrich_events_with_dim(stream, dim).isStreaming
    # the dimension side is broadcast: the fact never shuffles for this join
    batch = enrich_events_with_dim(load_table(spark, SF, "events"), dim)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stream_stream_interval_join_matches_batch(spark, staged):
    """The stream-stream attribution join must produce exactly the pairs
    the batch twin aggregates (closed-state subset == full set under
    availableNow, which drains every file)."""
    from duckdb_cluster_hash_spark.streaming import (
        attribute_purchases_to_clicks,
        read_events_stream,
    )

    stream = read_events_stream(spark, staged)
    got = _run_to_memory(
        spark, attribute_purchases_to_clicks(stream), "attrib_sink"
    )
    stream_pairs = {
        (r["click_id"], r["purchase_id"]) for r in got.collect()
    }
    batch = attribute_purchases_to_clicks(load_table(spark, SF, "events"))
    batch_n = {r["click_id"]: r["n_purchases"] for r in batch.collect()}
    # every batch-attributed purchase pair appears exactly once in the stream
    from collections import Counter

    per_click = Counter(c for c, _ in stream_pairs)
    assert dict(per_click) == batch_n


def test_three_phase_replay_actually_drops_late_rows(spark):
    """events_streaming_late_data's fixture must exercise the watermark
    DROP path, not just emission: batch 2 (the 20% late delivery) must
    report numRowsDroppedByWatermark > 0, and the emitted windows must
    equal the catalog oracle's reconstruction (checked separately by
    check_oracle); here we pin the mechanism so a corpus or Spark-version
    drift that silently stops dropping fails a unit test, not a grade."""
    staged = stage(spark, "three_phase", SF)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    q = (
        hourly_event_counts(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_drop_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(200):
        q.stop()  # don't leave a running query polluting the shared session
        raise AssertionError("three-phase replay did not drain in 200s")
    progress = q.recentProgress
    assert len(progress) >= 3, "expected one micro-batch per phase file"
    dropped = [
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in progress
        if p["stateOperators"]
    ]
    assert dropped[0] == 0 and dropped[1] == 0, \
        "phases 0-1 run against an inactive late filter"
    assert dropped[2] > 0, "phase 2 must hit the active watermark filter"
    # emission is single-shot per window: no (window, type) appears twice
    sink = spark.table("late_drop_sink")
    assert sink.count() == \
        sink.select("window_start_epoch", "event_type").distinct().count()


def test_three_phase_staging_routes_argmax_to_phase0(spark, tmp_path):
    """Drift-proofing: the global-argmax row must land in phase 0 even
    when its md5 bucket falls in the LATE range — otherwise a corpus
    regeneration has a ~30% chance of breaking the oracle's watermark
    model.  event_id=1 hashes to bucket 8 (late); give it the max ts and
    assert staging routes it on time."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # event_id 1 -> bucket 8, carries the max ts
        (1, t0 + datetime.timedelta(hours=48), 1, "click", 1.0, "{}"),
    ] + [
        (i, t0 + datetime.timedelta(minutes=i), i, "view", 0.5, "{}")
        for i in range(2, 40)
    ]
    src = str(tmp_path / "drift_sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(src + "/events.parquet")
    staged = stage(spark, "three_phase", src)
    p0_max = spark.read.parquet(staged + "/phase=0").agg(
        F.max("ts")
    ).head()[0]
    assert p0_max == t0 + datetime.timedelta(hours=48)
    # and the row is NOT duplicated into the late phase
    p2_ids = {r["event_id"]
              for r in spark.read.parquet(staged + "/phase=2").collect()}
    assert 1 not in p2_ids


def test_duplicate_staging_redelivers_md5_bucket_exactly(spark):
    """The ``duplicates`` replay must stage exactly two single-file
    deliveries: the full corpus, then byte-identical copies of exactly
    the md5-bucket<3 rows — the rule the dedup-replay oracle's
    duplicate-blindness relies on."""
    import glob

    out = stage(spark, "duplicates", SF)
    for d in range(2):
        assert len(glob.glob(out + f"/delivery={d}/*.parquet")) == 1
    full = spark.read.parquet(out + "/delivery=0")
    dups = spark.read.parquet(out + "/delivery=1")
    ev = load_table(spark, SF, "events")
    assert full.count() == ev.count()
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 10
    )
    want = ev.where(bucket < 3)
    assert dups.count() == want.count()
    # redelivered rows are byte-identical copies (exceptAll is symmetric
    # difference under multiset semantics: empty both ways = identical)
    assert dups.exceptAll(want).count() == 0
    assert want.exceptAll(dups).count() == 0


def test_stream_dedup_replay_absorbs_both_duplicate_paths(spark):
    """The two-delivery replay must reproduce the clean corpus whether a
    duplicate is state-deduped (in-window) or late-dropped (older than
    the armed watermark) — count + value-sum equality proves no leak and
    no loss."""
    import glob
    import time

    from duckdb_cluster_hash_spark.streaming import dedup_events_stream
    from duckdb_cluster_hash_spark.streaming.events import EVENTS_SCHEMA

    out = stage(spark, "duplicates", SF)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(out)
    )
    q = (
        dedup_events_stream(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_replay_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = spark.table("dedup_replay_sink")
    ev = load_table(spark, SF, "events")
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).head()[0] == \
        ev.select(F.sum("event_id")).head()[0]


def test_outer_attribution_batch_twin_counts_matches_not_rows(spark):
    """The batch twin of the outer interval join must report 0 purchases
    for an unmatched click (count of the purchase KEY, not of the
    null-extended row)."""
    from duckdb_cluster_hash_spark.streaming.events import (
        attribute_purchases_to_clicks,
    )

    ev = load_table(spark, SF, "events")
    out = attribute_purchases_to_clicks(ev, join_type="left_outer")
    unmatched = out.where(F.col("n_purchases") == 0)
    inner = attribute_purchases_to_clicks(ev)
    # left-outer keeps every click; inner keeps only matched ones
    assert out.count() == ev.where(F.col("event_type") == "click").count()
    assert out.count() - unmatched.count() == inner.count()


def test_simhash_projection_matches_batch(spark):
    """simhash64_project (the stream-safe per-row fingerprint) must
    reproduce simhash64's bits EXACTLY on every document — same token
    hash, same strict-majority rule, same tie handling — or the ingest
    stream and the batch near-dup family would disagree on what a
    near-dup is."""
    from duckdb_cluster_hash_spark.operators.dedup import (
        simhash64,
        simhash64_project,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch = {
        r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
        for r in simhash64(docs, "doc_id", "text").collect()
    }
    proj = {
        r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
        for r in simhash64_project(docs, "text")
        .select("doc_id", "simhash_lo", "simhash_hi")
        .collect()
    }
    assert proj == batch


def test_neardup_ingest_dedups_across_batches(spark, tmp_path):
    """The staged doc chunks must split at least one same-signature pair
    across DIFFERENT micro-batches (else the cross-batch state path is
    untested), and the ingest query's kept mass must equal the distinct
    signature count — one survivor per signature, batches
    notwithstanding."""
    from duckdb_cluster_hash_spark.operators.dedup import simhash64
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [
            # doc 0 (chunk 0) and doc 1 (chunk 1): identical text ->
            # identical signature, guaranteed cross-batch duplicate
            (0, "alpha beta gamma delta", "en", "s", 22),
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, "alpha beta gamma delta", "en", "s", 22),
            (3, "one two three four five six", "en", "s", 27),
            (4, "one two three four five six", "en", "s", 27),
            (5, "totally different text here", "en", "s", 27),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    sig = {
        r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
        for r in simhash64(
            spark.read.parquet(f"{sf}/documents.parquet"), "doc_id", "text"
        ).collect()
    }
    # duplicate pairs landing in different doc_id % 3 chunks exist
    assert any(
        sig[a] == sig[b] and a % 3 != b % 3
        for a in sig
        for b in sig
        if a < b
    )
    out = QUERIES["docs_streaming_neardup_ingest"](spark, sf).collect()
    assert sum(r["n_kept"] for r in out) == len(set(sig.values()))


def test_media_dedup_ingest_dedups_across_batches(spark, tmp_path):
    """The media ingest twin: doc_ids 1280 apart synthesize IDENTICAL
    PNM rasters (the generator's raster period is lcm(shape 40,
    offset 256) = 1280), land in different doc_id % 3 chunks, and must
    be deduplicated by perceptual signature ACROSS micro-batches — the
    kept mass equals the distinct-signature count."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    sf = str(tmp_path)
    ids = list(range(0, 40)) + list(range(1280, 1300))
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in ids],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in mm.pnm_dhash(
            mm.attach_fake_pnm(
                spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
            )
        ).collect()
    }
    # the planted duplicates really are signature-identical, and at
    # least one duplicate pair straddles a doc_id % 3 chunk boundary
    for d in range(1280, 1300):
        assert sig[d] == sig[d - 1280], d
    assert any(
        sig[a] == sig[b] and a % 3 != b % 3
        for a in sig
        for b in sig
        if a < b
    )
    out = QUERIES["docs_streaming_media_dedup"](spark, sf).collect()
    assert sum(r["n_kept"] for r in out) == len(set(sig.values()))


def _events_corpus(spark, sf_dir, rows):
    from duckdb_cluster_hash_spark.streaming.events import EVENTS_SCHEMA

    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf_dir, "events.parquet"))


def test_same_basename_corpora_stage_separately(spark, tmp_path):
    """Two corpora named ``sf`` under different parents must not share a
    replay stage: staging B may not overwrite A's replay, or A's next
    run (its stage already marked done) would read B's rows."""
    import datetime

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    t0 = datetime.datetime(2024, 1, 1)
    a, b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    _events_corpus(spark, a, [
        (i, t0 + datetime.timedelta(minutes=i), i, "click", 1.0, "{}")
        for i in range(10)
    ])
    _events_corpus(spark, b, [
        (i, t0 + datetime.timedelta(hours=5, minutes=i), i, "view", 2.5, "{}")
        for i in range(7)
    ])

    def hourly(sf_dir):
        out = QUERIES["events_streaming_hourly"](spark, sf_dir).collect()
        return [tuple(r) for r in out]

    first_a, only_b, again_a = hourly(a), hourly(b), hourly(a)
    assert [r[1:] for r in first_a] == [("click", 10, 10.0)]
    assert [r[1:] for r in only_b] == [("view", 7, 17.5)]
    assert only_b[0][0] - first_a[0][0] == 5  # hour buckets
    assert again_a == first_a


def test_stage_all_stages_what_the_streaming_catalog_reads(spark, monkeypatch):
    """bench.py's prestage calls ``stage_all``; after it, no streaming
    catalog query may stage anything more (else its staging I/O lands
    on the clock), and ``stage_all`` writes each replay kind once."""
    import dataclasses

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES
    from duckdb_cluster_hash_spark.streaming import events as ev

    writes = []
    monkeypatch.setattr(ev, "_STAGED", set())
    for kind, fx in list(ev.REPLAYS.items()):
        def counted(spark, sf_dir, out_dir, _write=fx.write, _kind=kind):
            writes.append(_kind)
            _write(spark, sf_dir, out_dir)

        monkeypatch.setitem(ev.REPLAYS, kind, dataclasses.replace(fx, write=counted))
    ev.stage_all(spark, SF)
    assert sorted(writes) == sorted(ev.REPLAYS)
    streaming = sorted(n for n in QUERIES if "_streaming_" in n)
    assert len(streaming) == 10
    for name in streaming:
        assert QUERIES[name](spark, SF).collect(), name
    assert sorted(writes) == sorted(ev.REPLAYS), "a query staged after stage_all"
