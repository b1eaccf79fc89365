#!/usr/bin/env python
"""Extended differential-fuzz soak: the test-suite fuzz gate
(tests/test_fuzz_oracle.py) pins two seeds so the suite stays fast; this
script sweeps MANY seeded random corpora/event logs through the same
Spark-vs-DuckDB comparison to hunt rare data-dependent divergences
(tie-breaks, duplicate collapse, boundary counts) before a driver round
trips over one.

    python scripts/fuzz_soak.py [n_seeds] [start_seed]   # default 8 from 100

Exit code != 0 on any mismatch; prints one line per (seed, family).
"""

from __future__ import annotations

import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))
sys.path.insert(0, HERE)

from check_oracle import normalize  # noqa: E402
import test_fuzz_oracle as tf  # noqa: E402

from duckdb_cluster_hash_spark.operators import dedup  # noqa: E402
from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins  # noqa: E402
from duckdb_cluster_hash_spark.plans.catalog import ORACLES, QUERIES  # noqa: E402
from duckdb_cluster_hash_spark.session import start_session  # noqa: E402


def _run_family(spark, sf_dir, con, names, seed, label):
    bad = []
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(ORACLES[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            ok = (
                sorted(scols) == sorted(ocols)
                and len(srows) == len(orows)
                and normalize(srows, scols) == normalize(orows, ocols)
            )
        except Exception as exc:  # a crash is a finding, not an abort
            print(f"ERR  seed={seed} {label} {name}: {exc}", flush=True)
            bad.append(name)
            continue
        if not ok:
            print(
                f"DIFF seed={seed} {label} {name}: "
                f"{len(srows)} spark vs {len(orows)} oracle rows",
                flush=True,
            )
            bad.append(name)
    return bad


def _stamp_soak_md(
    n_seeds: int, start: int, per_seed: list[str], failures: list
) -> None:
    """Durable round artifact: SOAK.md with the per-seed tallies (the
    stdout log is ephemeral; the committed stamp is what the next round
    reads)."""
    import time

    nd = len(tf.FUZZ_QUERIES)
    ne = len(tf.EVENTS_FUZZ_QUERIES)
    with open(os.path.join(ROOT, "SOAK.md"), "w") as fh:
        fh.write("# SOAK — differential-fuzz sweep result\n\n")
        fh.write(
            f"`python scripts/fuzz_soak.py {n_seeds} {start}` — {n_seeds} "
            "seeded random corpora\n(documents + events families, seeds "
            f"{start}-{start + n_seeds - 1}), every documents-only\nand "
            "events-only catalog query vs its DuckDB oracle with the\n"
            f"driver's normalization: {n_seeds} x ({nd} docs + {ne} events) "
            f"= {n_seeds * (nd + ne)}\nquery-level comparisons, "
            f"{len(failures)} divergences.\n\n```\n"
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
    for seed in range(start, start + n_seeds):
        with tempfile.TemporaryDirectory(prefix=f"soak{seed}-") as sf_dir:
            docs = spark.createDataFrame(
                tf._make_corpus(seed),
                "doc_id bigint, text string, lang string, source string, "
                "n_chars bigint",
            )
            docs.coalesce(2).write.mode("overwrite").parquet(
                f"{sf_dir}/documents.parquet"
            )
            ev = spark.createDataFrame(
                tf._make_events(seed),
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string",
            )
            ev.coalesce(2).write.mode("overwrite").parquet(
                f"{sf_dir}/events.parquet"
            )
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
            )
            con.execute(
                "CREATE VIEW events AS FROM "
                f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
            )
            dedup.clear_shared_cache()
            release_rank_pins()
            bad_d = _run_family(
                spark, sf_dir, con, tf.FUZZ_QUERIES, seed, "docs"
            )
            bad_e = _run_family(
                spark, sf_dir, con, tf.EVENTS_FUZZ_QUERIES, seed, "events"
            )
            con.close()
            dedup.clear_shared_cache()
            release_rank_pins()
            failures += [(seed, "docs", n) for n in bad_d]
            failures += [(seed, "events", n) for n in bad_e]
            line = (
                f"seed {seed}: docs {len(tf.FUZZ_QUERIES) - len(bad_d)}/"
                f"{len(tf.FUZZ_QUERIES)}, events "
                f"{len(tf.EVENTS_FUZZ_QUERIES) - len(bad_e)}/"
                f"{len(tf.EVENTS_FUZZ_QUERIES)} ok"
            )
            per_seed.append(line)
            print(line, flush=True)
    if failures:
        per_seed.append(f"{len(failures)} divergences: {failures}")
        print(per_seed[-1])
        _stamp_soak_md(n_seeds, start, per_seed, failures)
        return 1
    per_seed.append(f"all seeds clean ({n_seeds} corpora x both families)")
    print(per_seed[-1])
    _stamp_soak_md(n_seeds, start, per_seed, failures)
    return 0


if __name__ == "__main__":
    raise SystemExit(
        main(
            int(sys.argv[1]) if len(sys.argv) > 1 else 8,
            int(sys.argv[2]) if len(sys.argv) > 2 else 100,
        )
    )
