"""The session memo (duckdb_cluster_hash_spark/memo.py): one builder per
(owner, key), waiters released on every builder exit, failed builds
rebuilt, and ``clear`` leaving in-flight builds alone."""

from __future__ import annotations

import threading
import time

import pytest

from duckdb_cluster_hash_spark import memo

JOIN_S = 30


class _Owner:
    """Stands in for a corpus frame: weakly referenceable, hashed by identity."""


def _start(fn, *args) -> tuple[threading.Thread, dict]:
    out: dict = {}

    def run():
        try:
            out["value"] = fn(*args)
        except BaseException as exc:  # noqa: BLE001 -- recorded for the assertion
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, out


def _join_all(threads) -> None:
    deadline = time.monotonic() + JOIN_S
    for t in threads:
        t.join(max(0.0, deadline - time.monotonic()))
    assert not any(t.is_alive() for t in threads), "a memo caller hung"


def test_raising_builder_under_waiters_rebuilds_once():
    owner, key = _Owner(), ("t", "raise")
    started, release = threading.Event(), threading.Event()
    rebuilds: list[object] = []

    def failing():
        started.set()
        release.wait(JOIN_S)
        raise RuntimeError("builder failed")

    def rebuild():
        value = object()
        rebuilds.append(value)
        return value

    builder, bout = _start(memo.shared, owner, key, failing)
    assert started.wait(JOIN_S)
    waiters = [_start(memo.shared, owner, key, rebuild) for _ in range(4)]
    time.sleep(0.2)  # let the waiters block on the failing builder
    release.set()
    _join_all([builder] + [t for t, _ in waiters])

    assert isinstance(bout.get("error"), RuntimeError)
    assert len(rebuilds) == 1
    assert all(out.get("value") is rebuilds[0] for _, out in waiters)
    assert memo.clear(owner) == 1


def test_keyboard_interrupt_in_builder_releases_waiters():
    owner, key = _Owner(), ("t", "interrupt")
    started, release = threading.Event(), threading.Event()

    def interrupted():
        started.set()
        release.wait(JOIN_S)
        raise KeyboardInterrupt

    builder, bout = _start(memo.shared, owner, key, interrupted)
    assert started.wait(JOIN_S)
    waiter, wout = _start(memo.shared, owner, key, lambda: "rebuilt")
    time.sleep(0.2)
    release.set()
    _join_all([builder, waiter])

    assert isinstance(bout.get("error"), KeyboardInterrupt)
    assert wout.get("value") == "rebuilt"


def test_failed_builder_unregisters_its_entry():
    owner, key = _Owner(), ("t", "unregister")

    def failing():
        raise ValueError("nope")

    with pytest.raises(ValueError):
        memo.shared(owner, key, failing)
    assert key not in memo._STORE.get(owner, {})
    assert memo.shared(owner, key, lambda: 7) == 7
    assert memo.clear(owner) == 1


def test_clear_leaves_in_flight_build_serving_its_waiters():
    owner, key = _Owner(), ("t", "in_flight")
    started, release = threading.Event(), threading.Event()
    builds = []

    def slow():
        builds.append(1)
        started.set()
        release.wait(JOIN_S)
        return "built"

    builder, bout = _start(memo.shared, owner, key, slow)
    assert started.wait(JOIN_S)
    waiters = [_start(memo.shared, owner, key, slow) for _ in range(3)]
    memo.clear()
    assert memo.clear(owner) == 0
    assert key in memo._STORE[owner]
    release.set()
    _join_all([builder] + [t for t, _ in waiters])

    assert len(builds) == 1
    assert bout["value"] == "built"
    assert all(out.get("value") == "built" for _, out in waiters)
    assert memo.clear(owner) == 1
    assert owner not in memo._STORE


def test_clear_shared_cache_forgets_ivf_index_build(spark, sf_small, tmp_path, monkeypatch):
    from duckdb_cluster_hash_spark.operators import dedup, similarity
    from duckdb_cluster_hash_spark.sources import load_table

    writes = []
    assign = similarity.ivf_assign_cells

    def counted(*args, **kwargs):
        writes.append(1)
        return assign(*args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_assign_cells", counted)
    emb = load_table(spark, sf_small, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_write_index(emb, path)
    similarity.ivf_write_index(emb, path)
    assert len(writes) == 1
    assert dedup.clear_shared_cache() >= 1
    similarity.ivf_write_index(emb, path)
    assert len(writes) == 2
    assert spark.read.parquet(path).count() == emb.count()
