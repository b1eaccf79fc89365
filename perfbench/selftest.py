#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001, a few thousand keys).

    python3 perfbench/selftest.py

Shows three things, and exits non-zero if any fails:

1. every metric named in ``BENCHMARK.json`` is printed with its unit, both
   as a ``# name = value unit`` line and in the final JSON line;
2. a deliberately wrong query result is counted as a failure;
3. the exact counts ``plans.build_jobs``, ``plans.exec_jobs``,
   ``memo.entries`` and ``rank.pins`` are identical across two runs of the
   same code.

Takes about five minutes on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SECONDS = "2"


def bench_run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", SECONDS, "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1]), out


def check_printed(spec: list[dict], result: dict, stdout: str) -> list[str]:
    problems = []
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: JSON has {got}, want unit {m['unit']}")
        line = rf"^# {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$"
        if not re.search(line, stdout, re.M):
            problems.append(f"{m['name']}: no '# name = value unit' line")
    if set(result["metrics"]) != {m["name"] for m in spec}:
        problems.append(f"JSON metrics {sorted(result['metrics'])} differ from BENCHMARK.json")
    return problems


def corrupted_run() -> dict:
    """A tiny in-process run in which one query returns one row too few."""
    prog = run.load_program()
    victim = "docs_simhash_signatures"
    real = prog.QUERIES[victim]
    prog.QUERIES = dict(prog.QUERIES)
    prog.QUERIES[victim] = lambda spark, sf_dir: real(spark, sf_dir).orderBy("doc_id").offset(1)
    args = argparse.Namespace(workload="pipeline_concurrent", seed=5, seconds=float(SECONDS),
                              trace=0, size="tiny", untraced_wall=None)
    return run.measure(args, prog)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []

    result, stdout = bench_run("route_keys", 1, trace=0)
    problems += check_printed(spec["end_to_end"], result, stdout)
    if not result["correct"] or result["failed"]:
        problems.append(f"route_keys: failures in an unmodified run: {result}")

    traced = [bench_run("pipeline_concurrent", 2, trace=1) for _ in range(2)]
    problems += check_printed(spec["per_layer"], *traced[0])
    for name in run.EXACT_COUNTS:
        values = [r["metrics"][name]["value"] for r, _ in traced]
        if values[0] != values[1]:
            problems.append(f"{name} differs between two runs of the same code: {values}")
    print("exact counts:", {n: traced[0][0]["metrics"][n]["value"] for n in run.EXACT_COUNTS})

    res = corrupted_run()
    wrong = [f for f in res["failures"] if "docs_simhash_signatures" in f]
    frac = res["extra"]["failed_frac"][0]
    print(f"corrupted run: failed={res['failed']} attempted={res['attempted']} "
          f"failed_frac={frac:.4f} failures={res['failures']}")
    if not wrong or frac <= 0:
        problems.append("a wrong result was not counted in failed_frac")

    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
