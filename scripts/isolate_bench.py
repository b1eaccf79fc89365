#!/usr/bin/env python
"""Isolated per-query timing: run the named queries alone (no 8-way
contention) through the noop sink on a warm session and print a JSON map
{name: [run1, run2, ...]} — medians are stable to ~5% where the
contended bench walls swing 2x run-over-run, so this is the harness for
before/after evidence on individual optimizations (guide §1.1: isolate
the thing you are changing).

Usage: python scripts/isolate_bench.py q1 q2 ... [--repeats N] [--out F]
       python scripts/isolate_bench.py --all --repeats N

The session is bench.py's (both call ``start_session()``), so isolated
numbers are comparable to the bench's contended walls modulo contention.
Memoized session state is NOT cleared between repeats: run 1 of a
memoizing query pays its memo build (the bench's per-run cost for
non-prestaged queries) and later runs are the steady state (the bench's
cost for prestaged queries).  Report whichever matches the claim being
made.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_cluster_hash_spark.session import start_session


def main() -> int:
    args = [a for a in sys.argv[1:]]
    repeats = 3
    out = None
    names: list[str] = []
    run_all = False
    i = 0
    while i < len(args):
        if args[i] == "--repeats":
            repeats = int(args[i + 1])
            i += 2
        elif args[i] == "--out":
            out = args[i + 1]
            i += 2
        elif args[i] == "--all":
            run_all = True
            i += 1
        else:
            names.append(args[i])
            i += 1

    # Same calm discipline as bench.py (this script is the round's
    # before/after evidence harness — an isolated wall measured in a
    # neighbor-storm window must never be stamped as evidence unmarked):
    # wait for calm, and bracket the runs with bench.py's serial CPU
    # probe so a storm that STARTS mid-run is visible in the payload.
    import bench as _bench

    load1, _, noisy = _bench.wait_for_calm()
    probe_ms_pre = _bench._cpu_probe_ms()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session()

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    if run_all:
        names = list(QUERIES)
    QUERIES["cluster_node_distribution"](spark, sf_dir).collect()  # warmup

    results: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        runs = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        results[name] = runs
        print(f"{name}: {runs}", file=sys.stderr)

    probe_ms_post = _bench._cpu_probe_ms()
    if _bench._probe_degraded(probe_ms_pre, probe_ms_post):
        print(
            f"probe-guard: serial probe degraded {probe_ms_pre}→"
            f"{probe_ms_post}ms during the runs; stamping noisy",
            file=sys.stderr,
        )
        noisy = True
    payload = json.dumps(
        {
            "ambient_load1": load1,
            "noisy": noisy,
            "probe_ms_pre": probe_ms_pre,
            "probe_ms_post": probe_ms_post,
            "runs": results,
        }
    )
    if out:
        with open(out, "w") as fh:
            fh.write(payload)
    print(payload)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
