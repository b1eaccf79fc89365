"""The harness scripts' ``main()``s, run in-process on the shared session:
a broken step in scripts/check_oracle.py or scripts/fuzz_soak.py fails
here instead of on the next manual sweep."""

from __future__ import annotations

import dataclasses
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "scripts"))

import check_oracle  # noqa: E402
import fuzz_soak  # noqa: E402


def test_check_oracle_main_on_a_named_query(spark, sf_medium, tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)  # DuckDB's .tmp/ spill dir; named runs write no stamp
    monkeypatch.setattr(check_oracle, "SF_DIR", sf_medium)
    assert check_oracle.main(["cluster_node_distribution"]) == 0
    out = capsys.readouterr().out
    assert "OK   cluster_node_distribution:" in out
    assert "1/1 passed" in out


def test_fuzz_soak_main_on_one_query_per_family(spark, tmp_path, monkeypatch):
    repo_soak = os.path.join(fuzz_soak.ROOT, "SOAK.md")
    before = open(repo_soak, "rb").read()
    families = {
        family: dataclasses.replace(spec, queries=spec.queries[:1])
        for family, spec in fuzz_soak.tf.FAMILIES.items()
    }
    monkeypatch.setattr(fuzz_soak.tf, "FAMILIES", families)
    monkeypatch.setattr(fuzz_soak, "ROOT", str(tmp_path))
    assert fuzz_soak.main(1, 100) == 0
    soak = (tmp_path / "SOAK.md").read_text()
    assert "= 1 x 6 = 6 query-level comparisons, 0 divergences" in soak
    assert "seed 100: docs 1/1, events 1/1, star 1/1, emb 1/1, streaming 1/1, mixed 1/1" in soak
    assert open(repo_soak, "rb").read() == before
