"""The one session factory (duckdb_cluster_hash_spark/session.py): the
``spark`` fixture comes from ``start_session()``, its settings are the
host-derived ones, no other module builds its own SparkSession, and no
other engine module reads the environment (so no code path is chosen by
an environment variable)."""

from __future__ import annotations

import ast
import os
import tempfile

from duckdb_cluster_hash_spark.session import SESSION_INVARIANTS, host_cpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the factory itself and this test, whose scan names the pattern; the
# benchmark's perfbench/ (which owns its session conf) is pruned in the walk
ALLOWED = {
    os.path.join("duckdb_cluster_hash_spark", "session.py"),
    os.path.join("tests", "test_session.py"),
}


def test_fixture_session_has_factory_settings(spark):
    # the SparkConf the context started with: later runtime conf changes
    # by other tests cannot mask what the factory set
    conf = dict(spark.sparkContext.getConf().getAll())
    n = host_cpus()
    assert conf["spark.master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(n, 8))
    assert conf["spark.scheduler.mode"] == "FAIR"
    assert conf["spark.ui.showConsoleProgress"] == "false"
    for key, value in SESSION_INVARIANTS.items():
        assert conf[key] == value, key
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.commonpath([warehouse, tempfile.gettempdir()]) == tempfile.gettempdir()


def test_no_other_module_builds_a_session():
    found = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel_dir = os.path.relpath(dirpath, ROOT)
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and d != "__pycache__"
            and not (rel_dir == "." and d == "perfbench")
        ]
        for name in filenames:
            rel = os.path.normpath(os.path.join(rel_dir, name))
            if name.endswith(".py") and rel not in ALLOWED:
                with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                    if "SparkSession.builder" in fh.read():
                        found.append(rel)
    assert found == [], f"build the session with start_session(): {found}"


def test_no_other_module_reads_the_environment():
    pkg = os.path.join(ROOT, "duckdb_cluster_hash_spark")
    found = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in filenames:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT)
            if not name.endswith(".py") or rel in ALLOWED:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                ) or (
                    isinstance(node, ast.ImportFrom)
                    and node.module == "os"
                    and {a.name for a in node.names} & {"environ", "getenv"}
                ):
                    found.append(f"{rel}:{node.lineno}")
    assert found == [], f"read deployment settings in session.py only: {found}"
