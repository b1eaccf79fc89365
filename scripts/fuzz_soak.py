#!/usr/bin/env python
"""Extended differential-fuzz soak: the test-suite fuzz gate
(tests/test_fuzz_oracle.py) pins one or two seeds per family so the suite
stays fast; this script sweeps MANY seeds through every family of its
``FAMILIES`` table, with the same Spark-vs-DuckDB ``compare``, to hunt
rare data-dependent divergences (tie-breaks, duplicate collapse,
boundary counts) before a driver round trips over one.

    python scripts/fuzz_soak.py [n_seeds] [start_seed]   # default 8 from 100

Exit code != 0 on any mismatch; prints one line per seed and stamps SOAK.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))
sys.path.insert(0, HERE)

import test_fuzz_oracle as tf  # noqa: E402

from duckdb_cluster_hash_spark.session import start_session  # noqa: E402


def _stamp_soak_md(
    n_seeds: int, start: int, per_seed: list[str], failures: list
) -> None:
    """Durable round artifact: SOAK.md with the per-seed tallies (the
    stdout log is ephemeral; the committed stamp is what the next round
    reads)."""
    counts = {family: len(spec.queries) for family, spec in tf.FAMILIES.items()}
    per_corpus = sum(counts.values())
    terms = " + ".join(f"{n} {family}" for family, n in counts.items())
    with open(os.path.join(ROOT, "SOAK.md"), "w") as fh:
        fh.write("# SOAK — differential-fuzz sweep result\n\n")
        fh.write(
            f"`python scripts/fuzz_soak.py {n_seeds} {start}` — seeds "
            f"{start}-{start + n_seeds - 1}, each run through every fuzz family\n"
            f"({', '.join(counts)}): every fuzzed catalog query vs its DuckDB\n"
            "oracle with check_oracle's `compare` (columns, declared types, row\n"
            f"count, normalized values): {n_seeds} x ({terms})\n"
            f"= {n_seeds} x {per_corpus} = {n_seeds * per_corpus} query-level "
            f"comparisons, {len(failures)} divergences.\n\n```\n"
        )
        fh.write("\n".join(per_seed) + "\n```\n\n")
        if failures:
            fh.write(f"FAILURES: {failures}\n\n")
        fh.write(
            "Stamped "
            + time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())
            + f"; exit code {1 if failures else 0}.\n"
        )


def main(n_seeds: int, start: int = 100) -> int:
    spark = start_session()
    failures: list[tuple[int, str, str]] = []
    per_seed: list[str] = []
    saved_tempdir = tempfile.tempdir
    # per-corpus scratch dirs (streaming.events.scratch_dir) die with the run
    with tempfile.TemporaryDirectory(prefix="soak-") as root:
        tempfile.tempdir = root
        try:
            for seed in range(start, start + n_seeds):
                tallies = []
                for family, spec in tf.FAMILIES.items():
                    sf_dir = tempfile.mkdtemp(prefix=f"{family}{seed}-")
                    bad = []
                    with tf.fuzz_corpus(spark, sf_dir, family, seed) as con:
                        for name in spec.queries:
                            try:
                                problems = tf.divergences(spark, sf_dir, con, name)
                            except Exception as exc:  # a crash is a finding, not an abort
                                problems = [f"raised {type(exc).__name__}: {exc}"]
                            if problems:
                                print(f"DIFF seed={seed} {family} {name}: "
                                      + "; ".join(problems), flush=True)
                                bad.append(name)
                    failures += [(seed, family, n) for n in bad]
                    n = len(spec.queries)
                    tallies.append(f"{family} {n - len(bad)}/{n}")
                per_seed.append(f"seed {seed}: " + ", ".join(tallies) + " ok")
                print(per_seed[-1], flush=True)
        finally:
            tempfile.tempdir = saved_tempdir
    if failures:
        per_seed.append(f"{len(failures)} divergences: {failures}")
    else:
        per_seed.append(f"all seeds clean ({n_seeds} seeds x every family)")
    print(per_seed[-1])
    _stamp_soak_md(n_seeds, start, per_seed, failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(
        main(
            int(sys.argv[1]) if len(sys.argv) > 1 else 8,
            int(sys.argv[2]) if len(sys.argv) > 2 else 100,
        )
    )
