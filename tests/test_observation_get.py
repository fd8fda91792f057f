"""ADVICE-r17 regression: ``_observation_get`` must time out via a
daemon thread, not a ThreadPoolExecutor worker.

CPython joins non-daemon executor threads at interpreter exit even
after ``shutdown(wait=False)``, so a blocked ``Observation.get`` — the
exact failure the timeout guards against (Spark Connect never firing
QueryExecutionListener metrics) — would hang process shutdown forever.
These tests exercise the helper against stub observations (no Spark
session needed): a never-returning get must raise TimeoutError fast
and leave only daemon threads behind; a prompt get must pass its value
through; a raising get must surface its own exception.
"""

from __future__ import annotations

import threading
import time

import pytest

from ifcb_data_pipeline_spark.operators.graph import _observation_get


class _BlockedObs:
    """Stub whose ``get`` property blocks forever (like a Connect
    runtime that never delivers observation metrics)."""

    @property
    def get(self):
        threading.Event().wait()  # never set


class _PromptObs:
    @property
    def get(self):
        return {"fp": 42}


class _RaisingObs:
    @property
    def get(self):
        raise RuntimeError("metrics backend exploded")


def test_timeout_raises_fast_and_leaves_only_daemon_threads():
    before = set(threading.enumerate())
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        _observation_get(_BlockedObs(), timeout_s=0.2)
    assert time.monotonic() - t0 < 5.0
    # The abandoned poller must be a daemon thread — anything non-daemon
    # left behind would block interpreter exit.
    leaked = [t for t in set(threading.enumerate()) - before if t.is_alive()]
    assert all(t.daemon for t in leaked), [t.name for t in leaked]


def test_prompt_get_passes_value_through():
    assert _observation_get(_PromptObs(), timeout_s=5.0) == {"fp": 42}


def test_get_exception_is_surfaced_not_swallowed():
    with pytest.raises(RuntimeError, match="metrics backend exploded"):
        _observation_get(_RaisingObs(), timeout_s=5.0)


def test_observed_or_latches_after_first_timeout(monkeypatch):
    """A get that never returns times out once; the session-wide latch
    then sends every later call straight to its fallback."""
    from ifcb_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_OBSERVE_UNAVAILABLE", False)
    monkeypatch.setattr(
        graph, "_observation_get",
        lambda obs: _observation_get(obs, timeout_s=0.2),
    )
    assert graph._observed_or(_BlockedObs(), lambda: {"n": 7}) == {"n": 7}
    assert graph._OBSERVE_UNAVAILABLE
    t0 = time.monotonic()
    assert graph._observed_or(_PromptObs(), lambda: {"n": 8}) == {"n": 8}
    assert time.monotonic() - t0 < 0.1


def test_observed_or_passes_delivered_metrics_through(monkeypatch):
    from ifcb_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_OBSERVE_UNAVAILABLE", False)
    assert graph._observed_or(_PromptObs(), lambda: {"fp": 0}) == {"fp": 42}
    assert not graph._OBSERVE_UNAVAILABLE


def test_ringwedge_even_size_rejected():
    """Companion ADVICE-r17 fix: even FFT canvases produce an opaque
    broadcast error deep in the half-plane vstack; the guard must turn
    that into an immediate ValueError."""
    import numpy as np

    from ifcb_data_pipeline_spark.operators.kernels import ringwedge_features

    mask = np.zeros((8, 8), dtype=bool)
    mask[2:6, 2:6] = True
    with pytest.raises(ValueError, match="odd"):
        ringwedge_features(mask, size=64)
    # the odd default still works
    out = ringwedge_features(mask, size=65)
    assert len(out["Ring"]) == 50 and len(out["Wedge"]) == 48
