#!/usr/bin/env python
"""Serial DuckDB timing of the FULL oracle suite — the bench
denominator, measured on THIS machine instead of citing a prior
round's judge run (the r11 verdict's "refresh the denominator" item:
the ratio in VERDICT.md was computed against a 233-query timing two
rounds stale).

Runs every ``oracle_sql()`` entry against the sf0.1 parquet (same
views the correctness gate registers), one query at a time in one
DuckDB connection, calm-gated exactly like bench.py (a denominator
snapshotted in a neighbor storm would flatter Spark), and stamps
``DUCKDB_BENCH.json``::

    {"metric": "duckdb_oracle_serial_sum", "value": <sec>, ...,
     "queries": {name: sec}, "n_queries": N, "noisy": false}

This is DuckDB evaluating the ORACLE formulations — including
recursive-CTE CRC16, unrolled iterative loops, and cell-by-cell IVF
recomputation that exist to be *bit-exact cross-checks*, not optimal
DuckDB programs — so the number is an upper bound on a tuned DuckDB's
time; BASELINE comparisons should say so.

    python scripts/duckdb_bench.py            # full suite at sf0.1
    python scripts/duckdb_bench.py name ...   # subset (no stamp)
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.1")


def main(names: list[str]) -> int:
    import bench

    load1, _, noisy = bench.wait_for_calm()

    import __spark_entry__ as entrymod
    from check_oracle import create_views

    oracles = entrymod.oracle_sql()
    selected = names or sorted(oracles)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '.tmp/duckdb_{os.getpid()}'")
    create_views(con, SF_DIR)
    per_query: dict[str, float] = {}
    for i, name in enumerate(selected, 1):
        t0 = time.time()
        con.sql(oracles[name]).fetchall()
        per_query[name] = round(time.time() - t0, 3)
        print(
            f"[{i}/{len(selected)}] {name}: {per_query[name]}s",
            file=sys.stderr,
        )
    total = round(sum(per_query.values()), 1)
    out = {
        "metric": "duckdb_oracle_serial_sum",
        "value": total,
        "unit": "sec",
        "sf": float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0),
        "n_queries": len(selected),
        "ambient_load1": load1,
        "noisy": noisy,
        "queries": dict(
            sorted(per_query.items(), key=lambda kv: -kv[1])
        ),
        "stamped": time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime()),
        "note": (
            "DuckDB executing the ORACLE formulations (bit-exact "
            "cross-checks, e.g. recursive-CTE CRC16 and unrolled "
            "iterative loops), serially on one connection — an upper "
            "bound on tuned-DuckDB time, refreshed per round on this "
            "machine"
        ),
    }
    line = json.dumps(out)
    print(line)
    if not names:  # full runs stamp the durable artifact
        with open(os.path.join(ROOT, "DUCKDB_BENCH.json"), "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
