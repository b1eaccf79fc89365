"""bench.py measurement-integrity guards (no Spark session needed).

The r9 driver BENCH artifact recorded a fictitious 3x regression: the
calm gate passed (ambient load 3.x before the suite) but a neighbor storm
started DURING the run — the serial CPU probe collapsed 176→3152ms and
the artifact still said "noisy": false.  _probe_degraded is the guard
that stamps such runs noisy; pin its semantics.
"""

from __future__ import annotations

import importlib.util
import os

_BENCH = os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
_spec = importlib.util.spec_from_file_location("bench_module", _BENCH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_probe_degraded_flags_r9_collapse():
    # the exact r9 artifact values that sailed through as noisy=false
    assert bench._probe_degraded(176.2, 3152.4) is True


def test_probe_degraded_threshold_is_2x_exclusive():
    assert bench._probe_degraded(100.0, 200.0) is False  # exactly 2x: calm
    assert bench._probe_degraded(100.0, 200.1) is True
    assert bench._probe_degraded(100.0, 199.9) is False


def test_probe_degraded_normal_jitter_is_calm():
    # r8/r9 clean runs: 173→204ms post-suite drift must not stamp noisy
    assert bench._probe_degraded(173.0, 204.0) is False


def test_probe_degraded_unknown_probes_do_not_flag():
    # missing samples must not crash or claim degradation
    assert bench._probe_degraded(None, 300.0) is False
    assert bench._probe_degraded(100.0, None) is False
    assert bench._probe_degraded(0.0, 100.0) is False


def test_wait_for_calm_survives_load_resample_failure(monkeypatch):
    # a storm at the first sample, then loadavg becomes unreadable: the
    # gate must report unknown load, not crash the harness
    calls = []

    def getloadavg():
        calls.append(1)
        if len(calls) > 1:
            raise OSError("loadavg unavailable")
        return (99.0, 99.0, 99.0)

    monkeypatch.setattr(bench.os, "getloadavg", getloadavg)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    load1, waited, noisy = bench.wait_for_calm()
    assert (load1, noisy) == (None, None)
    assert waited == 30 and len(calls) == 2
