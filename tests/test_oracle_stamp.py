"""scripts/check_oracle.py's full-run stamp (no Spark session needed):
a repeat run with the same counts leaves ORACLE_<sf>.json byte-identical,
so the correctness gate does not dirty the tree; a changed count rewrites
it."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "scripts"))

import check_oracle  # noqa: E402


def test_same_counts_leave_stamp_bytes_unchanged(tmp_path):
    path = str(tmp_path / "ORACLE_SF001.json")
    assert check_oracle.write_stamp(path, "/data/sf0.01", 258, 0) is True
    before = open(path, "rb").read()
    os.utime(path, (0, 0))
    assert check_oracle.write_stamp(path, "/data/sf0.01", 258, 0) is False
    assert open(path, "rb").read() == before
    assert os.stat(path).st_mtime == 0


def test_changed_count_rewrites_stamp(tmp_path):
    path = str(tmp_path / "ORACLE_SF001.json")
    check_oracle.write_stamp(path, "/data/sf0.01", 258, 0)
    assert check_oracle.write_stamp(path, "/data/sf0.01", 257, 1) is True
    stamp = json.load(open(path))
    assert (stamp["passed"], stamp["failed"], stamp["total"]) == (257, 1, 258)
    assert "utc" in stamp


def test_perfbench_imports_stay():
    assert callable(check_oracle.normalize)
    assert callable(check_oracle.type_problems)
    assert list(check_oracle.TABLES) == (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()
