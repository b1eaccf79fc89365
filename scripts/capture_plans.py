#!/usr/bin/env python
"""Capture .explain('formatted') for named catalog queries into
plans/r14/<query>_<suffix>.txt (the optimization round's plan evidence).

Usage: python scripts/capture_plans.py before q1 q2 ...
       python scripts/capture_plans.py after --all

Iterative queries (kcore, pagerank, BPE trainer, ...) execute their loop
at plan-construction time and return a driver-side createDataFrame; for
those the captured plan is the final (trivial) stage and the evidence of
the loop's shape lives in the code and job counts, noted in
OPTIMIZATION_r14.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_cluster_hash_spark.session import start_session


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session()

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        here, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
    )
    os.makedirs(out_dir, exist_ok=True)
    if names == ["--all"]:
        names = list(QUERIES)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
