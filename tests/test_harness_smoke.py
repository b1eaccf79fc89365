"""The harness scripts' ``main()``s, run in-process on the shared session:
a broken step in scripts/check_oracle.py, fuzz_soak.py, isolate_bench.py
or duckdb_bench.py fails here instead of on the next manual sweep."""

from __future__ import annotations

import dataclasses
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "scripts"))

import check_oracle  # noqa: E402
import duckdb_bench  # noqa: E402
import fuzz_soak  # noqa: E402
import isolate_bench  # noqa: E402
import scale_probe  # noqa: E402


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


def test_isolate_bench_main_on_one_query(spark, sf_small, tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CALM_WAIT", "0")  # never wait on a loaded host
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_small)
    out = tmp_path / "isolate.json"
    monkeypatch.setattr(
        sys,
        "argv",
        ["isolate_bench.py", "cluster_node_distribution", "--repeats", "1", "--out", str(out)],
    )
    assert isolate_bench.main() == 0
    payload = json.loads(out.read_text())
    assert list(payload["runs"]) == ["cluster_node_distribution"]
    assert len(payload["runs"]["cluster_node_distribution"]) == 1
    assert json.loads(capsys.readouterr().out.splitlines()[-1]) == payload


def test_duckdb_bench_main_on_a_named_query(sf_small, tmp_path, monkeypatch, capsys):
    stamp = os.path.join(duckdb_bench.ROOT, "DUCKDB_BENCH.json")
    before = open(stamp, "rb").read()
    monkeypatch.chdir(tmp_path)  # DuckDB's .tmp/ spill dir
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CALM_WAIT", "0")
    monkeypatch.setattr(duckdb_bench, "SF_DIR", sf_small)
    assert duckdb_bench.main(["cluster_node_distribution"]) == 0
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert (line["n_queries"], list(line["queries"])) == (1, ["cluster_node_distribution"])
    assert line["sf"] == 0.001
    assert open(stamp, "rb").read() == before  # named runs write no stamp


def test_scale_probe_reset_clears_the_cut_memo():
    from duckdb_cluster_hash_spark.operators import ranking

    ranking._CUT_MEMO[("planted",)] = [1, 2, 3]
    scale_probe._reset()
    assert ranking._CUT_MEMO == {}
