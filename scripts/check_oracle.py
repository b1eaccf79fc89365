#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and the matching
``oracle_sql()`` in DuckDB over the same parquet, then compares them
with ``compare``: schema (sorted column names), declared types,
row-count, and an order-insensitive value comparison (columns sorted
by name, rows sorted, values normalized).  ``compare`` is the one
Spark-vs-oracle comparison; the fuzz gate (tests/test_fuzz_oracle.py)
and the soak (scripts/fuzz_soak.py) call it too.  Usage::

    python scripts/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb

import __spark_entry__ as entrymod
from duckdb_cluster_hash_spark.session import start_session
from duckdb_cluster_hash_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def create_views(con, sf_dir, tables=TABLES):
    """One DuckDB view per table over ``sf_dir``: a single ``{t}.parquet``
    file or a Spark-written ``{t}.parquet/`` directory."""
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


_CANON = {
    "varchar": "string",
    "text": "string",
    "integer": "int32",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "bigint": "int64",
    "hugeint": "int128",
    "ubigint": "uint64",
    "double": "float64",
    "float": "float32",
    "real": "float32",
    "list": "array",
    "blob": "binary",
}


def canon_type(type_str):
    """Map a Spark simpleString or DuckDB type string to a canonical label.

    Both BIGINT and HUGEINT reach Python as ``int``, so value comparison
    alone cannot see the difference — but the driver's value hash can
    (round-1 ``cluster_skew_report``).  Compare declared types instead.
    Single-pass token substitution (no cascading replacements).
    """
    s = str(type_str).strip().lower()
    s = re.sub(r"[a-z]+", lambda m: _CANON.get(m.group(0), m.group(0)), s)
    s = s.replace(" ", "")
    while s.endswith("[]"):  # DuckDB list syntax -> Spark array syntax
        s = f"array<{s[:-2]}>"
    return s


def type_problems(scols, stypes, ocols, otypes):
    smap = {c: canon_type(t) for c, t in zip(scols, stypes)}
    omap = {c: canon_type(t) for c, t in zip(ocols, otypes)}
    diffs = [
        f"{c}: spark={smap[c]} oracle={omap[c]}"
        for c in sorted(set(smap) & set(omap))
        if smap[c] != omap[c]
    ]
    return diffs


def run_spark(sdf):
    """``(cols, types, rows)`` of a Spark query, collected."""
    types = [f.dataType.simpleString() for f in sdf.schema.fields]
    return sdf.columns, types, [tuple(r) for r in sdf.collect()]


def run_oracle(con, sql):
    """``(cols, types, rows)`` of an oracle query in DuckDB."""
    rel = con.sql(sql)
    return [d[0] for d in rel.description], [str(t) for t in rel.types], rel.fetchall()


def compare(spark_result, oracle_result):
    """The problems that make a Spark result differ from its oracle's, in
    order: sorted column names, declared types, row count, normalized
    values.  Each result is ``(cols, types, rows)``; ``[]`` means equal."""
    scols, stypes, srows = spark_result
    ocols, otypes, orows = oracle_result
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
    else:
        tdiffs = type_problems(scols, stypes, ocols, otypes)
        if tdiffs:
            problems.append("types differ: " + "; ".join(tdiffs))
    if len(srows) != len(orows):
        problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
    if not problems:
        a = normalize(srows, scols)
        b = normalize(orows, ocols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return problems


def write_stamp(path, sf_dir, passed, failed):
    """Write the full-run stamp, leaving the file alone (``utc`` included)
    when its counts already match, so a repeat run leaves the tree clean.
    Returns True when the file was (re)written."""
    stamp = {"sf_dir": sf_dir, "passed": passed, "failed": failed,
             "total": passed + failed}
    try:
        with open(path) as fh:
            old = json.load(fh)
        if {k: old.get(k) for k in stamp} == stamp:
            return False
    except (OSError, ValueError):
        pass
    stamp["utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    try:
        with open(path, "w") as fh:
            json.dump(stamp, fh, indent=2)
    except OSError:
        return False
    return True


def main(names):
    spark = start_session()
    con = duckdb.connect()
    # Per-process spill dir: DuckDB defaults to cwd-relative .tmp/, and
    # two concurrent check_oracle processes (e.g. an sf0.1 sweep next to
    # an sf0.01 subset check) delete each other's temp files mid-query —
    # observed as a fatal IOException that killed a full sweep.
    con.execute(f"SET temp_directory = '.tmp/duckdb_{os.getpid()}'")
    create_views(con, SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    selected = names or list(qs)
    # Group by family prefix (stable within a family) so the dedup
    # memo's localCheckpoint blocks are reclaimed as soon as the last
    # consumer family finishes, instead of living for the whole run —
    # the memo exists to share shingle/signature tables ACROSS the
    # dedup/similarity queries, so clearing per-query would defeat it
    # while clearing per-family keeps peak executor storage bounded.
    from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
    from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins

    # Family = owning plans module (fn.__module__ tail), not the name's
    # first underscore token: prefix grouping split star-schema queries
    # into many one-off "families" (orders_, customer_, nation_, ...),
    # firing a no-op cache clear at nearly every transition.  The memo is
    # shared per plans module, so module grouping tracks actual sharing.
    def fam(n):
        return qs[n].__module__.rsplit(".", 1)[-1]
    if not names:  # explicit subsets keep user order
        order = {f: i for i, f in enumerate(dict.fromkeys(map(fam, selected)))}
        selected = sorted(selected, key=lambda n: order[fam(n)])
    freed_total = 0
    failures = 0
    prev_family = None
    for name in selected:
        if prev_family is not None and fam(name) != prev_family:
            freed = clear_shared_cache()
            release_rank_pins()  # persist-backed, recompute-safe
            if freed:
                print(f"-- cleared {freed} memo entries "
                      f"after family '{prev_family}'")
            freed_total += freed
        prev_family = fam(name)
        t0 = time.time()
        try:
            result = run_spark(qs[name](spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(result[2])} rows (spark {spark_s:.1f}s)")
            continue
        t0 = time.time()
        try:
            expected = run_oracle(con, oracles[name])
            oracle_s = time.time() - t0
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        problems = compare(result, expected)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name}: {len(result[2])} rows "
                  f"(spark {spark_s:.1f}s, oracle {oracle_s:.1f}s)")
    freed_total += clear_shared_cache()
    print(f"\n{len(selected) - failures}/{len(selected)} passed "
          f"({freed_total} memo entries reclaimed)")
    # Full-catalog runs leave a durable stamp (ORACLE_SF001.json /
    # ORACLE_SF01.json ...) so the once-per-round scale pass at sf0.1 —
    # which catches tie/overflow divergences the sf0.01 gate can't —
    # is auditable instead of a claim in round notes.
    if not names:
        sf_tag = os.path.basename(SF_DIR.rstrip("/")).replace(".", "")
        write_stamp(
            os.path.join(os.path.dirname(HERE), f"ORACLE_{sf_tag.upper()}.json"),
            SF_DIR, len(selected) - failures, failures,
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
