"""End-to-end tests for the composed streaming flagship
(plans/streaming_ingest.py): batch-twin equivalence and exactly-once
incremental append across re-runs."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from ifcb_data_pipeline_spark.plans.streaming_ingest import (
    batch_twin,
    run_streaming_tick,
)


def _write_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w") as f:
        f.write("sensor,ts,value,flag\n")
        for sensor, ts, value, flag in rows:
            f.write(f"{sensor},{ts},{value},{flag}\n")


def _mins(m: int) -> str:
    return f"2024-03-01 {8 + m // 60:02d}:{m % 60:02d}:00"


@pytest.fixture()
def dirs():
    with tempfile.TemporaryDirectory() as d:
        inp, out, ckpt = (os.path.join(d, n) for n in ("in", "out", "ckpt"))
        os.makedirs(inp)
        yield inp, out, ckpt


def _collect_out(spark, out):
    # sink layout: out/batch_id=N/part-*.parquet (batch-keyed overwrite)
    if not glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True):
        return []
    return sorted(
        (r["window_start"], r["sensor"], r["n"], r["value_cents"])
        for r in spark.read.parquet(out)
        .select("window_start", "sensor", "n", "value_cents")
        .collect()
    )


def test_stream_matches_batch_twin(spark, dirs):
    inp, out, ckpt = dirs
    rows = []
    for m in range(0, 120, 5):  # 2 h of 5-min readings, 2 sensors
        rows.append(("sal", _mins(m), 30.0 + (m % 7), "ok"))
        rows.append(("tmp", _mins(m), 10.0 + (m % 5) * 0.25, "ok"))
    # QC fodder: sentinels, negatives, bad flags must be gated out
    rows += [
        ("sal", _mins(3), -999.0, "ok"),
        ("tmp", _mins(7), -1.0, "ok"),
        ("sal", _mins(11), 35.0, "bad"),
        # empty flag parses as NULL — the convention is null = clean,
        # so this reading MUST survive the gate (both engines)
        ("sal", _mins(13), 33.0, ""),
    ]
    _write_csv(os.path.join(inp, "f1.csv"), rows)
    run_streaming_tick(spark, inp, out, ckpt)
    got = _collect_out(spark, out)
    want = sorted(
        (r["window_start"], r["sensor"], r["n"], r["value_cents"])
        for r in batch_twin(spark, inp).collect()
    )
    assert got == want and got, "stream output must equal the batch twin"


def test_incremental_rerun_appends_exactly_once(spark, dirs):
    inp, out, ckpt = dirs
    _write_csv(
        os.path.join(inp, "f1.csv"),
        [("sal", _mins(m), 30.0, "ok") for m in range(0, 60, 5)],
    )
    run_streaming_tick(spark, inp, out, ckpt)
    first = _collect_out(spark, out)
    # re-run with NO new data: nothing may be appended (exactly-once)
    run_streaming_tick(spark, inp, out, ckpt)
    assert _collect_out(spark, out) == first
    # new file advances the watermark -> strictly more finalized windows,
    # and the union must equal the batch twin over ALL files
    _write_csv(
        os.path.join(inp, "f2.csv"),
        [("sal", _mins(m), 31.0, "ok") for m in range(60, 150, 5)],
    )
    run_streaming_tick(spark, inp, out, ckpt)
    final = _collect_out(spark, out)
    assert len(final) > len(first)
    assert set(first) <= set(final), "finalized windows must never be re-emitted"
    want = sorted(
        (r["window_start"], r["sensor"], r["n"], r["value_cents"])
        for r in batch_twin(spark, inp).collect()
    )
    assert final == want


def test_late_data_is_dropped_after_finalization(spark, dirs):
    """Watermark semantics pin: rows arriving AFTER their window
    finalized are dropped — the finalized output must not change, and
    must now (correctly) diverge from a naive batch recompute that
    would count the late rows."""
    inp, out, ckpt = dirs
    _write_csv(
        os.path.join(inp, "f1.csv"),
        [("sal", _mins(m), 30.0, "ok") for m in range(0, 120, 5)],
    )
    run_streaming_tick(spark, inp, out, ckpt)
    first = _collect_out(spark, out)
    assert first
    # a whole file of LATE rows: timestamps inside windows that the
    # advancing watermark already finalized
    _write_csv(
        os.path.join(inp, "late.csv"),
        [("sal", _mins(m), 99.0, "ok") for m in range(0, 30, 5)],
    )
    run_streaming_tick(spark, inp, out, ckpt)
    assert _collect_out(spark, out) == first, (
        "late rows must not mutate finalized windows"
    )
    naive = sorted(
        (r["window_start"], r["sensor"], r["n"], r["value_cents"])
        for r in batch_twin(spark, inp).collect()
    )
    assert naive != first, (
        "sanity: the naive batch recompute DOES count the late rows — "
        "the divergence is the watermark doing its job"
    )
