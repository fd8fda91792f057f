"""Incremental/streaming semantics: exactly-once per key, idempotent
re-runs (SURVEY §2.10 I1-I4)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.streaming.incremental import (
    CheckpointedJob,
    new_work,
)
from tests.conftest import SF_SMOKE, run_python


def test_new_work_anti_join(spark):
    cand = spark.createDataFrame([("a",), ("b",), ("c",)], ["key"])
    ledger = spark.createDataFrame([("b",)], ["key"])
    got = sorted(r["key"] for r in new_work(cand, ledger, "key").collect())
    assert got == ["a", "c"]


def test_checkpointed_job_empty_ledger(spark):
    with tempfile.TemporaryDirectory() as tmp:
        job = CheckpointedJob(spark, tmp, "key")
        cand = spark.createDataFrame([("x",)], ["key"])
        assert job.pending(cand).count() == 1


def test_checkpointed_job_missing_ledger_reads_empty(spark):
    with tempfile.TemporaryDirectory() as tmp:
        job = CheckpointedJob(spark, tmp, "key")
        ledger = job.ledger()
        assert ledger.schema.simpleString() == "struct<key:string>"
        assert ledger.count() == 0


def test_checkpointed_job_corrupt_ledger_raises(spark):
    """An unreadable ledger must not read as empty: that would re-queue
    every key and append its output a second time."""
    with tempfile.TemporaryDirectory() as tmp:
        job = CheckpointedJob(spark, tmp, "key")
        os.makedirs(job.ledger_path)
        with open(os.path.join(job.ledger_path, "part-00000.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        cand = spark.createDataFrame([("x",)], ["key"])
        with pytest.raises(Exception, match="(?i)parquet"):
            job.pending(cand).count()


def test_first_tick_logs_no_missing_ledger_trace(tmp_path):
    """A fresh checkpoint has no ledger yet, and the first tick finds
    that out without a failed read, whose ``FileNotFoundException`` stack
    Spark logs to the driver JVM's stderr (hence a child process)."""
    p = run_python("""
import sys
from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick
from ifcb_data_pipeline_spark.session import get_spark, stop_spark
spark = get_spark("first-tick-test", cpus=1)
bins = spark.createDataFrame([("D20240423T115846_IFCB127", 3)], "sample string, n_rois int")
print(ingest_tick(spark, bins, sys.argv[1] + "/ckpt", sys.argv[1] + "/out")["bins"])
stop_spark(spark)
""", str(tmp_path))
    assert p.stdout.splitlines()[-1] == "1"
    assert "FileNotFoundException" not in p.stderr


def test_checkpointed_job_ledger_read_runs_no_job(spark):
    """The ledger is read with its declared schema, so defining the
    pending frame starts no schema-inference job."""
    with tempfile.TemporaryDirectory() as tmp:
        job = CheckpointedJob(spark, tmp, "key")
        job.mark_done(spark.createDataFrame([("a",), ("b",)], ["key"]))
        sc = spark.sparkContext
        sc.setJobGroup("ledger-read", "ledger read")
        try:
            pending = job.pending(spark.createDataFrame([("a",), ("c",)], ["key"]))
            assert sc.statusTracker().getJobIdsForGroup("ledger-read") == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [r["key"] for r in pending.collect()] == ["c"]


def test_undelivered_recent_short_circuit(spark):
    """I5: empty result when the newest-k bins are all delivered."""
    from ifcb_data_pipeline_spark.streaming.incremental import undelivered_recent

    bins = spark.createDataFrame(
        [(f"D2024010{d}T000000_IFCB1",) for d in range(1, 8)], "sample string"
    )
    all_delivered = bins
    assert undelivered_recent(bins, all_delivered, newest_k=3).count() == 0
    # Only the newest-k window is considered: with k=3 an undelivered
    # OLD bin does not block the short-circuit…
    partial = bins.where(F.col("sample") > "D20240101")
    assert undelivered_recent(bins, partial, newest_k=3).count() == 0
    # …but an undelivered NEW bin does.
    missing_newest = bins.where(F.col("sample") < "D20240107")
    out = undelivered_recent(bins, missing_newest, newest_k=3).collect()
    assert [r.sample for r in out] == ["D20240107T000000_IFCB1"]


def test_suppress_duplicate_comments(spark):
    """I6: candidate comments already present remotely are dropped."""
    from ifcb_data_pipeline_spark.streaming.incremental import (
        suppress_duplicate_comments,
    )

    cand = spark.createDataFrame(
        [("b1", "bad gps"), ("b1", "bubbles"), ("b2", "bad gps")],
        "sample string, comment string",
    )
    existing = spark.createDataFrame(
        [("b1", "bad gps")], "sample string, comment string"
    )
    out = suppress_duplicate_comments(cand, existing).orderBy("sample", "comment")
    assert [(r.sample, r.comment) for r in out.collect()] == [
        ("b1", "bubbles"), ("b2", "bad gps"),
    ]
    # idempotent: re-suppressing after merge leaves nothing new
    merged = existing.unionByName(out)
    assert suppress_duplicate_comments(cand, merged).count() == 0


def test_hab_alert_hysteresis_stream(spark):
    """Stateful streaming (applyInPandasWithState): alert raises on the
    first loud batch and clears only after `clear_after` consecutive
    quiet batches; the streaming output must equal a driver-side replay
    of the same transition function."""
    import os
    import tempfile

    from ifcb_data_pipeline_spark.streaming.stateful import (
        hab_alert_stream,
        replay_alerts,
    )

    ticks = [  # one micro-batch each, single taxon
        {"taxon": "Dinophysis", "ts": "2024-01-01 00:00:00", "abund": 5.0},
        {"taxon": "Dinophysis", "ts": "2024-01-02 00:00:00", "abund": 20.0},
        {"taxon": "Dinophysis", "ts": "2024-01-03 00:00:00", "abund": 3.0},
        {"taxon": "Dinophysis", "ts": "2024-01-04 00:00:00", "abund": 25.0},
        {"taxon": "Dinophysis", "ts": "2024-01-05 00:00:00", "abund": 2.0},
        {"taxon": "Dinophysis", "ts": "2024-01-06 00:00:00", "abund": 1.0},
    ]
    expected = replay_alerts(ticks, threshold=10.0, clear_after=2)
    assert [(e[0], e[1]) for e in expected] == [
        ("Dinophysis", "raised"),
        ("Dinophysis", "cleared"),
    ]

    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
        os.makedirs(src)
        stream = spark.readStream.schema(
            "taxon string, ts timestamp, abund double"
        ).csv(src)
        q = (
            hab_alert_stream(stream, threshold=10.0, clear_after=2)
            .writeStream.format("memory")
            .queryName("hab_alerts")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            for i, t in enumerate(ticks):
                with open(f"{src}/tick{i}.csv", "w") as f:
                    f.write(f"{t['taxon']},{t['ts']},{t['abund']}\n")
                q.processAllAvailable()
            got = [
                (r["taxon"], r["event"], str(r["ts"]), r["peak"])
                for r in spark.sql(
                    "SELECT * FROM hab_alerts ORDER BY ts"
                ).collect()
            ]
        finally:
            q.stop()
    assert got == [(t, e, ts, p) for t, e, ts, p in expected]


def test_drain_to_memory_raises_on_streaming_failure(spark, sf_dir):
    """A streaming failure must surface, not turn into some other
    result.  An append-mode aggregate WITHOUT a watermark is rejected
    by the engine at start(); the drain raises that error."""
    from pyspark.errors import AnalysisException

    from ifcb_data_pipeline_spark.queries.multimodal import _drain_to_memory
    from ifcb_data_pipeline_spark.sources.tables import stream_table

    stream = stream_table(spark, sf_dir, "events")
    # no withWatermark → append mode on an aggregate is an AnalysisException
    bad = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(AnalysisException, match="(?i)watermark"):
        _drain_to_memory(bad, "append", "drain_failure_probe")
    assert not spark.streams.active


def test_drain_raises_timeout_and_stops_a_stalled_stream(spark, tmp_path, monkeypatch):
    """A query still running when the drain's wait ends raises
    TimeoutError naming it, and is stopped rather than left running."""
    import time

    from ifcb_data_pipeline_spark.streaming import incremental

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("1\n")
    monkeypatch.setattr(incremental, "DRAIN_TIMEOUT_S", 1)
    stream = spark.readStream.schema("x int").csv(str(src))
    writer = (
        stream.writeStream.queryName("stalled_drain_probe")
        .foreachBatch(lambda df, batch_id: time.sleep(5))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="stalled_drain_probe"):
        incremental.drain(writer)
    assert not spark.streams.active


STREAM_SINKS = {
    "st1_stream_windowed_counts": "st1_windowed",
    "st2_stateful_user_counts": "st2_stateful",
    "st3_watermarked_append": "st3_watermarked",
    "st4_stream_stream_join": "st4_attribution",
    "st5_streaming_dedup": "st5_dedup",
    "st6_sliding_window_rates": "st6_sliding",
    "st7_stream_static_join": "st7_enriched",
    "st8_streaming_sessions": "st8_sessions",
}


@pytest.mark.parametrize("name", sorted(STREAM_SINKS))
def test_stream_query_reads_only_its_memory_sink(spark, name):
    """Each streaming registry query drains its stream into a memory
    sink and returns a frame over that sink: no file is read after the
    drain, so the oracle checks pin the streaming path."""
    from ifcb_data_pipeline_spark.queries import load_all

    out = load_all()[name].fn(spark, SF_SMOKE)
    assert any(t.name == STREAM_SINKS[name] for t in spark.catalog.listTables())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MemoryPlan" in plan and "Relation" not in plan, plan


def test_st8_streaming_path_drains(spark, sf_dir):
    """After the run the memory sink holds exactly the finalized
    sessions: every emitted session_end <= max(ts) - 40 min, and
    sessions are per-user disjoint."""
    from ifcb_data_pipeline_spark.queries.multimodal import (
        st8_streaming_sessions,
    )

    out = st8_streaming_sessions(spark, sf_dir)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    mx = events.agg(F.max("ts")).collect()[0][0]
    rows = out.collect()
    assert rows, "no finalized sessions at sf0.01"
    import datetime as dt

    cutoff = mx - dt.timedelta(minutes=40)
    assert all(r["session_end"] <= cutoff for r in rows)
    # sessions are per-user disjoint: starts strictly ordered per user
    seen = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["session_start"])):
        prev = seen.get(r["user_id"])
        if prev is not None:
            assert r["session_start"] >= prev, "overlapping sessions"
        seen[r["user_id"]] = r["session_end"]


def test_st8_invariant_to_microbatch_slicing(spark, sf_dir, tmp_path):
    """Sessions must merge correctly in state ACROSS micro-batch
    boundaries: slicing the input into 4 arrival-ordered files processed
    one per trigger (progressing watermark) must emit exactly the same
    finalized-session set as the single-batch drain.  (Arrival order is
    event time order in this data — i11 measures zero lateness — so no
    event is dropped and the final watermark is identical.)"""
    import pyspark.sql.functions as F

    from ifcb_data_pipeline_spark.queries.multimodal import (
        st8_streaming_sessions,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = events.count()
    src = str(tmp_path / "sliced")
    # 4 arrival-ordered slices, one parquet file each, lexicographic
    # file order = arrival order
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    ordered = events.orderBy("event_id").collect()
    for i in range(4):
        chunk = ordered[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    sessions = (
        stream.withWatermark("ts", "40 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .outputMode("append")
        .queryName("st8_sliced")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "sliced stream did not drain"
    q.stop()

    sliced = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("st8_sliced").collect()
    }
    single = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in st8_streaming_sessions(spark, sf_dir).collect()
    }
    assert sliced == single, (
        f"micro-batch slicing changed the session set: "
        f"only-sliced={len(sliced - single)} only-single={len(single - sliced)}"
    )


def test_watermark_drops_planted_too_late_event(spark, tmp_path):
    """The shipped event streams are fully in-order (i11 measures zero
    lateness at every SF), so no natural-data test ever exercises the
    watermark's DISCARD path — the 'watermark-bounded state' claim
    needs a plant.  Three micro-batches: batch 0 fills the 10:00
    window, batch 1 advances past it (watermark 10:50 emits + evicts
    its state), batch 2 replays an event into the evicted window — the
    replay must be dropped (Spark only filters late rows once the
    window's state is gone; a replay in the SAME batch as the eviction
    would still merge, which is why the plant needs the middle batch).
    The batch twin (no watermark) counts the replay — proving the
    plant is non-vacuous."""
    import pandas as pd
    import pyspark.sql.functions as F

    src = tmp_path / "late_stream"
    src.mkdir()

    def write(name, rows):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        # µs precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
        df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
        df.to_parquet(src / name)

    import time

    # batch 0: two rows in the 10:00 window + an advancer that sets the
    # next batch's watermark to 10:50 (= 11:00 − 10 min)
    write(
        "0001.parquet",
        [
            (1, "2024-01-10 10:00:30", 1, "click", 1.0, "{}"),
            (2, "2024-01-10 10:01:30", 1, "click", 1.0, "{}"),
            (3, "2024-01-10 11:00:00", 2, "click", 1.0, "{}"),
        ],
    )
    time.sleep(1.1)  # distinct mtimes: the file source triggers oldest-first
    # batch 1: runs at watermark 10:50 → emits the 10:00 window (n=2)
    # and evicts its state; this row itself lands in the live 10:55 window
    write("0002.parquet", [(5, "2024-01-10 10:56:00", 1, "click", 1.0, "{}")])
    time.sleep(1.1)
    # batch 2: the replay targets the evicted window → dropped; the
    # advancer finalizes everything up to 11:20
    write(
        "0003.parquet",
        [
            (4, "2024-01-10 10:02:30", 1, "click", 1.0, "{}"),
            (6, "2024-01-10 11:30:00", 2, "click", 1.0, "{}"),
        ],
    )

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .outputMode("append")
        .queryName("late_drop_probe")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        dropped = sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    got = {
        r["ws"].strftime("%H:%M"): r["n"]
        for r in spark.sql("SELECT * FROM late_drop_probe").collect()
    }
    # finalized output: the 10:00 window EXCLUDES the too-late replay,
    # the in-time 10:55/11:00 rows count, the 11:30 window never
    # finalizes (final watermark 11:20 < its end)
    assert got == {"10:00": 2, "10:55": 1, "11:00": 1}, got
    assert dropped == 1  # exactly the replay, via the state metric

    # batch twin without a watermark counts the replay — the plant bites
    batch = (
        spark.read.parquet(str(src))
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("w.start") == "2024-01-10 10:00:00")
        .collect()
    )
    assert batch[0]["n"] == 3
