#!/usr/bin/env python3
"""Steadiness evidence: run every workload on N seeds and summarise.

    python3 perfbench/prove.py --runs 10 --first-seed 101 --out perfbench/evidence/set1.json

For each workload and end-to-end metric it records the N values, their
median and quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median, beside the metric's bound from ``BENCHMARK.json`` and
the target spread of a third of the bound (``setup_s`` is exempt from the
spread rule).  With ``--against`` it also reports, per metric, how much
worse this set's median is than an earlier set's, against the bound.
With ``--trace`` it makes traced runs of one seed instead and records
every per-layer value, and whether the exact counts (jobs, memo entries,
rank pins) repeat across the runs.  Runs are sequential; each is a separate
``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import EXACT_COUNTS  # noqa: E402


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    cmd[0] = sys.executable if cmd[0] in ("python", "python3") else cmd[0]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    host = next(json.loads(line[len("# host: "):]) for line in out.splitlines()
                if line.startswith("# host: "))
    return {"seed": seed, "elapsed_s": time.perf_counter() - t0, "host": host,
            "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def summarise_traced(runs: dict[str, list[dict]]) -> dict:
    """Per-layer values of each run, and whether the exact counts repeat."""
    out = {}
    for w, rs in runs.items():
        values = {n: [r["metrics"][n] for r in rs] for n in rs[0]["metrics"]}
        repeat = all(len(set(values[n])) == 1 for n in EXACT_COUNTS)
        out[w] = {"exact_counts_repeat": repeat, "metrics": values}
    return out


def summarise(spec: dict, runs: dict[str, list[dict]], earlier: dict | None) -> dict:
    out = {}
    for workload, rs in runs.items():
        rows = {}
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]] for r in rs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            row = {"values": values, "median": med, "q1": q1, "q3": q3,
                   "spread": (q3 - q1) / med, "bound": m["bound"],
                   "spread_target": m["bound"] / 3}
            row["spread_ok"] = m["name"] == "setup_s" or row["spread"] < row["spread_target"]
            if earlier:
                before = earlier["summary"][workload][m["name"]]["median"]
                worse = (med - before) / before if m["better"] == "lower" else (before - med) / before
                row.update({"earlier_median": before, "worse_by": worse,
                            "drift_ok": worse <= m["bound"]})
            rows[m["name"]] = row
        out[workload] = rows
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", required=True)
    ap.add_argument("--against", help="an earlier output of this script")
    ap.add_argument("--trace", action="store_true",
                    help="make traced runs and report the per-layer metrics instead")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    earlier = None
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:
            # traced runs repeat one seed: their exact counts must then match
            seed = args.first_seed if args.trace else args.first_seed + i
            r = one_run(spec, w, seed, int(args.trace))
            runs[w].append(r)
            print(w, json.dumps({k: round(v, 4) for k, v in r["metrics"].items()}),
                  f"elapsed={r['elapsed_s']:.1f}s failed={r['failed']}", flush=True)
    if args.trace:
        summary = summarise_traced(runs)
        print(json.dumps({w: v["exact_counts_repeat"] for w, v in summary.items()}))
        rows_by_workload = {}
    else:
        summary = summarise(spec, runs, earlier)
        rows_by_workload = summary
    for w, rows in rows_by_workload.items():
        for name, row in rows.items():
            drift = f" worse_by={row['worse_by']:+.3f}" if "worse_by" in row else ""
            print(f"{w:20s} {name:12s} median={row['median']:.4f} q1={row['q1']:.4f} "
                  f"q3={row['q3']:.4f} spread={row['spread']:.3f} "
                  f"(target <{row['spread_target']:.3f}){drift}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"run_seconds": spec["run_seconds"], "first_seed": args.first_seed,
                   "runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
