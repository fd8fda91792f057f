"""Streaming CDC-apply pins (plans/streaming_merge.py).

The load-bearing claims: the latest-wins fold is slicing-invariant
(ANY micro-batch decomposition — even time-shuffled — lands on the
same final state), tombstones shadow older late arrivals, and the
versioned sink makes foreachBatch replays idempotent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.plans.streaming_merge import (
    current_snapshot,
    latest_per_key,
    merge_state,
    read_state,
    run_merge_stream,
)


def _global_expected(spark, events_df):
    """One-shot reference: latest event per user; tombstoned keys out."""
    return {
        (r["user_id"], r["last_type"], r["value"], r["last_ts"], r["last_event_id"])
        for r in current_snapshot(latest_per_key(events_df)).collect()
    }


def _state_set(df):
    return {
        (r["user_id"], r["last_type"], r["value"], r["last_ts"], r["last_event_id"])
        for r in df.collect()
    }


@pytest.mark.parametrize("slicing", ["time_ordered", "time_shuffled"])
def test_merge_stream_slicing_invariant(spark, sf_dir, tmp_path, slicing):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "changes")
    if slicing == "time_ordered":
        sliced = events.withColumn(
            "__p", F.ntile(4).over(Window.orderBy("event_id"))
        )
    else:
        # round-robin by event_id: every slice spans the whole time range,
        # so most batches deliver rows OLDER than already-applied state
        sliced = events.withColumn("__p", (F.col("event_id") % 4 + 1).cast("int"))
    for p in range(1, 5):
        sliced.where(F.col("__p") == p).drop("__p").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state_dir = str(tmp_path / f"state_{slicing}")
    run_merge_stream(spark, src, state_dir, str(tmp_path / f"ckpt_{slicing}"))
    final = current_snapshot(read_state(spark, state_dir))
    assert _state_set(final) == _global_expected(spark, events)


def test_merge_tombstone_shadows_late_arrival(spark):
    """A tombstone applied first must keep shadowing an OLDER change
    that arrives in a later batch — the reason tombstones stay in
    state."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, ts_min, user, typ, val):
        return (eid, t0 + dt.timedelta(minutes=ts_min), user, typ, val, "{}")

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    batch1 = spark.createDataFrame([ev(10, 60, 1, "error", 0.0)], schema)
    batch2 = spark.createDataFrame([ev(5, 30, 1, "view", 2.0)], schema)
    s0 = spark.createDataFrame(
        [], "user_id bigint, last_type string, value double,"
        " last_ts timestamp, last_event_id bigint"
    )
    s1 = merge_state(s0, batch1)
    s2 = merge_state(s1, batch2)
    assert _state_set(current_snapshot(s2)) == set(), (
        "older late arrival resurrected a tombstoned key"
    )
    # sanity: same changes, one batch — identical
    both = batch1.unionByName(batch2)
    assert _state_set(current_snapshot(merge_state(s0, both))) == set()


def test_merge_sink_replay_idempotent(spark, sf_dir, tmp_path):
    """Re-running the fold for the same batch_id (at-least-once
    foreachBatch replay) must leave the state byte-identical: version N
    is derived only from versions < N."""
    from ifcb_data_pipeline_spark.plans.streaming_merge import merge_state

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    import os

    state_dir = str(tmp_path / "state")
    b0 = events.where(F.col("event_id") % 2 == 0)
    b1 = events.where(F.col("event_id") % 2 == 1)
    s0 = read_state(spark, state_dir, below=0)
    merge_state(s0, b0).write.mode("overwrite").parquet(
        os.path.join(state_dir, "v0")
    )
    s1 = read_state(spark, state_dir, below=1)
    merge_state(s1, b1).write.mode("overwrite").parquet(
        os.path.join(state_dir, "v1")
    )
    after_first = _state_set(read_state(spark, state_dir))
    # replay batch 1: must re-read v0 (not v1) and rewrite identical v1
    s1b = read_state(spark, state_dir, below=1)
    merge_state(s1b, b1).write.mode("overwrite").parquet(
        os.path.join(state_dir, "v1")
    )
    assert _state_set(read_state(spark, state_dir)) == after_first
