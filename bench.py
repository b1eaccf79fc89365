#!/usr/bin/env python
"""Headline benchmark: run the query catalog at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures) on the ``start_session()`` session and print ONE
JSON line: {"metric": ..., "value": wall_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion through the noop sink (no driver-side
collect skew for wide outputs).  The session is created once; the first
(untimed) warmup query absorbs JVM/Python-worker spin-up so the timings
measure the engine, not process startup.

Queries are submitted CONCURRENTLY ($SPARK_GRAFT_BENCH_WORKERS threads,
default 8) under the FAIR scheduler: the catalog is 86 independent
queries, most of which individually leave the 32-core session underfilled
(small shuffles, driver-side planning gaps), so sequential execution
measures per-query fixed overhead 86 times over.  Concurrent submission
is the realistic cluster condition (a shared 1000-executor cluster always
multiplexes queries) and `value` is the true makespan of the suite.
Per-query numbers are wall times *under contention* — useful for spotting
regressions, not as isolated latencies; their sum rides along as
`queries_sum`.  Longest-known-first scheduling (from the previous round's
artifact) keeps the makespan near sum/workers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_cluster_hash_spark.session import start_session


def _cpu_probe_ms() -> float:
    """Wall time of a fixed single-thread busy loop, in ms.

    Run once before the session spins up and once after the pool drains
    (when this process is otherwise idle): the post/pre ratio exposes
    neighbor-storm CPU contention DURING the suite — loadavg alone
    cannot, because a storm can start after the pre-sample (observed:
    start load 0.1, suite uniformly 5x inflated) and the 1-minute
    average also counts this bench's own threads.
    """
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    return round((time.perf_counter() - t0) * 1000, 1)


def _probe_degraded(pre_ms: float | None, post_ms: float | None) -> bool:
    """True when the post-suite CPU probe ran more than 2x slower than the
    pre-suite probe — a storm that STARTED during the run.

    The calm gate only samples loadavg before the suite; r9's driver
    artifact passed it (load 3.x) yet its probe collapsed 176→3152ms
    mid-run and the uniform ~3x inflation was recorded as an engine
    regression.  This guard stamps such runs "noisy": true.
    """
    return (
        pre_ms is not None
        and post_ms is not None
        and pre_ms > 0
        and post_ms > 2 * pre_ms
    )


def wait_for_calm() -> tuple[float | None, float, bool | None]:
    """CALM GATE: wait until the ambient 1-minute load average is at most
    $SPARK_GRAFT_BENCH_CALM_GATE (default 4), re-sampling every 30s for
    up to $SPARK_GRAFT_BENCH_CALM_WAIT seconds (default 600).  Returns
    ``(load1, waited_s, noisy)``.

    Sample it BEFORE the session spins up, so it measures the neighbors'
    load, not the harness's own threads: a shared host sees neighbor
    storms that inflate a whole suite 2-3x uniformly (same commit, 25s at
    load ~1 vs 68-72s at load ~15-30), and three bench artifacts
    snapshotted in storms (r4-r6) recorded 40%+ phantom regressions.  A storm that
    outlasts the wait yields ``noisy`` True, so the artifact is stamped
    and no reader mistakes it for an engine regression.  ``load1`` and
    ``noisy`` are None (not calm) when the load cannot be sampled.
    Progress goes to stderr; stdout stays the harness's one line.
    """

    def sample() -> float | None:
        try:
            return round(os.getloadavg()[0], 1)
        except OSError:
            return None

    calm_gate = float(os.environ.get("SPARK_GRAFT_BENCH_CALM_GATE", "4"))
    calm_wait = float(os.environ.get("SPARK_GRAFT_BENCH_CALM_WAIT", "600"))
    waited = 0.0
    load1 = sample()
    while load1 is not None and load1 > calm_gate and waited < calm_wait:
        print(
            f"calm-gate: ambient load {load1} > {calm_gate}, waiting "
            f"({waited:.0f}/{calm_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(30)
        waited += 30
        load1 = sample()
    noisy = (load1 > calm_gate) if load1 is not None else None
    if noisy:
        print(
            f"calm-gate: storm outlasted {calm_wait:.0f}s wait "
            f"(load {load1}); artifact will be stamped noisy",
            file=sys.stderr,
        )
    return load1, waited, noisy


def main() -> int:
    ambient_load1, calm_waited, noisy = wait_for_calm()
    probe_ms_pre = _cpu_probe_ms()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session()

    from concurrent.futures import ThreadPoolExecutor

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    # warmup: spin up executors + python workers outside the timings
    QUERIES["cluster_node_distribution"](spark, sf_dir).collect()

    # longest-first (by the previous round's timings, when available) so the
    # suite makespan approaches sum/workers instead of being tail-bound
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    prevs = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    prev_times: dict[str, float] = {}
    prev: dict = {}
    if prevs:
        try:
            with open(prevs[-1]) as fh:
                prev = json.load(fh)
            if "parsed" in prev and isinstance(prev["parsed"], dict):
                prev = prev["parsed"]
            prev_times = dict(prev.get("queries", {}))
        except (ValueError, OSError):
            prev = {}
    # driver artifacts carry only the 5 slowest; the full per-query map from
    # the last local run lives in BENCH_LOCAL.json — prefer it for scheduling
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as fh:
            local_prev = json.load(fh)
        if isinstance(local_prev.get("queries"), dict):
            prev_times = {**local_prev["queries"], **prev_times}
    except (ValueError, OSError):
        pass
    items = sorted(
        QUERIES.items(), key=lambda kv: -float(prev_times.get(kv[0], 0.0))
    )
    # Spread the streaming queries through the schedule (longest-first
    # WITHIN each class): clustered at the front they'd occupy most of
    # the pool while the semaphore admits only 3, idling workers; spaced
    # out, batch queries fill the gaps and the gate almost never blocks.
    streaming = [kv for kv in items if "_streaming_" in kv[0]]
    batch = [kv for kv in items if "_streaming_" not in kv[0]]
    if streaming:
        stride = max(1, len(batch) // len(streaming))
        merged, si = [], 0
        for i, kv in enumerate(batch):
            if si < len(streaming) and i % stride == 0:
                merged.append(streaming[si])
                si += 1
            merged.append(kv)
        merged.extend(streaming[si:])
        items = merged

    workers = int(os.environ.get("SPARK_GRAFT_BENCH_WORKERS", "8"))
    # REPEATS MODE: three same-code calm measurements in round 7 spanned
    # 28.4-40.4s (scheduler/JIT/page-cache variance on a shared host), so a
    # single-run makespan cannot distinguish a real 15% regression from
    # nothing.  With SPARK_GRAFT_BENCH_REPEATS > 1 the whole suite runs N
    # times (memoized checkpoint caches cleared between runs so each run
    # is comparable to a single-run bench), the headline `value` is the
    # MEDIAN makespan, and per-query walls are element-wise medians; all
    # per-run makespans ride in `runs` so the spread is visible in the
    # artifact.  Default stays 1 (the driver's time budget is not ours to
    # spend), but round-over-round comparisons should cite a repeats>=3
    # median from BENCH_LOCAL.json.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    timings: dict[str, float] = {}

    # The catalog now carries 8 real Structured Streaming queries; each
    # spins its own micro-batch scheduler + state-store pool, and running
    # them all concurrently thrashes (observed: per-query walls 2x worse
    # when the longest-first order front-loads them together).  A small
    # semaphore keeps at most 3 streaming queries in flight while batch
    # queries fill the remaining workers.
    import threading

    streaming_gate = threading.Semaphore(3)

    def run_one(name, fn):
        is_streaming = "_streaming_" in name
        if is_streaming:
            streaming_gate.acquire()
        try:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return name, round(time.time() - t0, 3)
        finally:
            if is_streaming:
                streaming_gate.release()

    # The session memo (duckdb_cluster_hash_spark/memo.py) holds
    # localCheckpoint'd shingle / signature tables, probes, trained
    # trajectories and IVF index builds keyed by corpus; in a long-lived
    # session those outlive the suite.  Between runs the
    # pool has drained (no running consumers), so the maintenance hook's
    # concurrency contract holds — reclaim executor storage and record how
    # much there was to reclaim.
    from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
    from duckdb_cluster_hash_spark.operators.ranking import (
        clear_cut_memo,
        release_rank_pins,
    )

    # PRESTAGE (untimed): FIXTURE SETUP ONLY.  Through round 14 this list
    # had grown to 20 full catalog queries whose session-memo builds
    # (set-sim prefix tables, graph edge tables, signature tables, ...)
    # ran off the clock — 49.6s untimed against a 65.5s timed makespan in
    # the r14 driver artifact.  Disclosed or not, that moved real compute
    # out of the timed region (VERDICT r14 item 1), so from round 15 the
    # prestage is ONLY the four streaming replay stage-dir writes: pure
    # one-time fixture I/O (writing the replay parquet directories the
    # file-source streams consume — the streaming analogue of the
    # /root/testdata input files themselves), invoked directly rather
    # than through the catalog queries so no query compute can hide here.
    # EVERY memo build now runs inside the timed region; memos are still
    # cleared between repeat runs (clear_shared_cache below), so each
    # timed run pays every memo build — run 1 and run N measure the same
    # cold-memo semantics.
    import tempfile as _tf

    from duckdb_cluster_hash_spark.streaming import events as _sev

    _base = "".join(
        c if c.isalnum() else "_" for c in os.path.basename(sf_dir.rstrip("/"))
    )
    _tmp = _tf.gettempdir()
    fixture_stagers = [
        # one-chunk event replay dir (hourly/attribution/sessions/
        # user_totals/outer_attribution/routed_sink)
        lambda: _sev.stage_events_as_stream(
            spark, sf_dir, os.path.join(_tmp, f"dch_stream_stage_{_base}"),
            n_chunks=1, single_file_chunks=False,
        ),
        # three-phase watermark replay dir (late_data)
        lambda: _sev.stage_events_three_phase(
            spark, sf_dir, os.path.join(_tmp, f"dch_stream_late_{_base}")
        ),
        # duplicate-redelivery replay dir (dedup_replay)
        lambda: _sev.stage_events_with_duplicates(
            spark, sf_dir, os.path.join(_tmp, f"dch_stream_dup_{_base}")
        ),
        # three-chunk documents replay dir (neardup_ingest/media_dedup)
        lambda: _sev.stage_documents_as_stream(
            spark, sf_dir, os.path.join(_tmp, f"dch_stream_docs_{_base}")
        ),
    ]

    def prestage() -> float:
        t0 = time.time()
        with ThreadPoolExecutor(max_workers=len(fixture_stagers)) as ex:
            list(ex.map(lambda f: f(), fixture_stagers))
        dt = round(time.time() - t0, 3)
        print(
            f"prestage: {len(fixture_stagers)} replay-dir fixture writes "
            f"in {dt:.1f}s (untimed; staging is once per process — "
            f"repeat runs cost ~0)",
            file=sys.stderr,
        )
        return dt

    run_walls: list[float] = []
    run_timings: list[dict[str, float]] = []
    prestage_walls: list[float] = []
    freed_memo_entries = 0
    for run_idx in range(repeats):
        prestage_walls.append(prestage())
        per_run: dict[str, float] = {}
        t_suite = time.time()
        with ThreadPoolExecutor(max_workers=workers) as ex:
            for name, dt in ex.map(lambda kv: run_one(*kv), items):
                per_run[name] = dt
        run_walls.append(round(time.time() - t_suite, 3))
        run_timings.append(per_run)
        freed = clear_shared_cache()
        freed_memo_entries += freed
        # ranking-family pins (persist-backed, recompute-safe): drained
        # pool, so releasing between runs reclaims the cached frames the
        # FIFO cap hasn't already evicted; forgetting the cut points makes
        # every run pay the ranking sample jobs, as run 1 does
        release_rank_pins()
        clear_cut_memo()
        print(
            f"run {run_idx + 1}/{repeats}: makespan {run_walls[-1]}s, "
            f"freed {freed} memo entries",
            file=sys.stderr,
        )

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return round(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3)

    wall = _median(run_walls)
    timings = {
        name: _median([rt[name] for rt in run_timings if name in rt])
        for name in run_timings[0]
    }

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Stdout must stay ONE SHORT line: the driver's tail-capture window
    # truncated r02's 92-entry per-query map mid-JSON (BENCH_r02 parsed:null).
    # Headline methodology (frozen from r2 onward): `value` = concurrent
    # makespan under FAIR scheduling with `workers` threads; `queries_sum` =
    # sum of per-query walls under contention (the round-over-round
    # comparable).  Full per-query map + deltas go to BENCH_LOCAL.json.
    # 15 slowest + the PREVIOUS artifact's 15 slowest, so the
    # round-over-round perf join never degenerates to 4 rows or emits a
    # phantom "dropped_from_bench" for a query that merely left the
    # top-N (r14's PERF could compare only 4 queries).  Carrying only
    # the previous top-15, not its whole map, keeps the map at <= 30
    # entries across rounds, far under the r02 tail-capture truncation
    # bound (r02 died mid-way through a 92-entry map).
    def _slowest(qs: dict) -> list[str]:
        return sorted(qs, key=lambda q: -float(qs[q]))[:15]

    top = {q: timings[q] for q in _slowest(timings)}
    for q in _slowest(prev.get("queries", {})):
        if q in timings:
            top.setdefault(q, timings[q])
    probe_ms_post = _cpu_probe_ms()
    if _probe_degraded(probe_ms_pre, probe_ms_post):
        print(
            f"probe-guard: serial probe degraded {probe_ms_pre}→"
            f"{probe_ms_post}ms during the suite; stamping noisy",
            file=sys.stderr,
        )
        noisy = True
    result = {
        "metric": "catalog_wall_time",
        "value": wall,
        "unit": "sec",
        "sf": sf_val,
        "workers": workers,
        "ambient_load1": ambient_load1,
        "noisy": noisy,  # calm-gate + probe-degradation verdict
        "probe_ms_pre": probe_ms_pre,
        "probe_ms_post": probe_ms_post,
        "n_queries": len(timings),
        "queries_sum": round(sum(timings.values()), 3),
        "repeats": repeats,
        "runs": run_walls,  # per-run makespans; value = median
        # the one-time fixture staging kept off the clock, in the payload
        # (not just stderr) so cold cost is value + prestage_sec.
        "prestage_sec": _median(prestage_walls),
        "queries": top,  # 15 slowest + prev artifact's; full map in BENCH_LOCAL.json
    }

    detail = dict(
        result,
        queries=timings,
        runs_min=min(run_walls),
        prestage_runs=prestage_walls,
        calm_waited_sec=calm_waited,
        freed_memo_entries=freed_memo_entries,
    )
    if prevs:
        try:
            detail["prev_round"] = os.path.basename(prevs[-1])
            detail["prev_total"] = prev.get("value")
            detail["delta_total"] = round(wall - float(prev["value"]), 3)
            detail["delta_queries"] = {
                q: round(t - prev["queries"][q], 3)
                for q, t in timings.items()
                if q in prev.get("queries", {}) and abs(t - prev["queries"][q]) >= 0.5
            }
        except (ValueError, KeyError, TypeError, OSError):
            pass
    # The BENCH_LOCAL.json stamp is OPT-IN (repeats > 1, or
    # SPARK_GRAFT_BENCH_STAMP=1): the driver's post-commit single run
    # used to overwrite the builder's committed calm median-of-3 and
    # dirty the tree every round.  A bare `python bench.py` now only
    # prints the one-line JSON.
    if repeats > 1 or os.environ.get("SPARK_GRAFT_BENCH_STAMP") == "1":
        local_path = os.path.join(here, "BENCH_LOCAL.json")
        try:
            with open(local_path, "w") as fh:
                json.dump(detail, fh, indent=2, sort_keys=True)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
