"""Unit tests for tools/driver_sim.py's compare guards.

The driver-sim mirrors the gate's pandas data path; these tests pin the
ADVICE r9 fix (fractional Decimal objects must NOT false-green against
an int64 Spark column via a silently-truncating astype) and the benign
paths that must keep passing (integral objects, date normalization).
"""

from __future__ import annotations

import importlib.util
from decimal import Decimal
from pathlib import Path

import pandas as pd

_tool = Path(__file__).resolve().parent.parent / "tools" / "driver_sim.py"
_spec = importlib.util.spec_from_file_location("driver_sim", _tool)
driver_sim = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(driver_sim)
frames_match = driver_sim.frames_match


def test_fractional_decimal_does_not_false_green():
    s = pd.DataFrame({"k": [1, 2], "v": pd.array([1, 2], dtype="int64")})
    d = pd.DataFrame({"k": [1, 2], "v": [Decimal("1.5"), Decimal("2.0")]})
    ok, msg = frames_match(s, d)
    assert not ok, msg


def test_integral_decimal_still_matches():
    s = pd.DataFrame({"k": [1, 2], "v": pd.array([1, 2], dtype="int64")})
    d = pd.DataFrame({"k": [1, 2], "v": [Decimal("1"), Decimal("2")]})
    ok, msg = frames_match(s, d)
    assert ok, msg


def test_plain_int_objects_match_int64():
    s = pd.DataFrame({"v": pd.array([10, 20], dtype="int64")})
    d = pd.DataFrame({"v": pd.Series([10, 20], dtype="object")})
    ok, msg = frames_match(s, d)
    assert ok, msg


def test_value_mismatch_is_red():
    s = pd.DataFrame({"v": pd.array([10, 21], dtype="int64")})
    d = pd.DataFrame({"v": pd.Series([10, 20], dtype="object")})
    ok, msg = frames_match(s, d)
    assert not ok, msg


def test_date_object_vs_datetime64_normalizes():
    import datetime

    s = pd.DataFrame(
        {"d": pd.Series([datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)])}
    )
    d = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    ok, msg = frames_match(s, d)
    assert ok, msg


def test_cli_usage_errors_exit_before_any_run(tmp_path):
    """``--help`` prints usage and exits 0; an unknown flag or an unknown
    ``--only`` name exits 1 without checking any query.  Run from a
    directory outside the repo, so the tool must find the package and
    the test helpers from its own path."""
    import subprocess
    import sys

    def run(*args):
        return subprocess.run(
            [sys.executable, str(_tool), *args],
            cwd=tmp_path,
            capture_output=True,
            text=True,
            timeout=300,
        )

    helped = run("--help")
    assert helped.returncode == 0, helped.stderr
    assert "usage:" in helped.stdout
    for args, named in (
        (("--bogus",), "--bogus"),
        (("--only=a1_biovolume_rollup,no_such_query",), "no_such_query"),
    ):
        bad = run(*args)
        assert bad.returncode == 1, bad.stdout + bad.stderr
        assert named in bad.stderr
        assert "driver-sim:" not in bad.stdout
