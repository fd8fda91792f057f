"""Composed streaming ingest + QC pipeline — the Structured-Streaming
flagship, composing the individually-verified streaming pieces the way
``plans/ingest_qc.ingest_tick`` composes the batch ones:

  file arrival (I1 ``stream_directory``) → sentinel/QC gates (F8/F12
  shapes) → watermarked tumbling-window aggregation (st1/st3) →
  ``foreachBatch`` parquet sink with checkpointed progress (I3).

Scale/exactly-once design, same contract on a 1000-executor cluster:

* The file source lists only NEW files per micro-batch (its own
  checkpointed log), so a directory with years of history costs one
  listing delta per trigger, not a rescan.
* The 30-min watermark bounds window state: open windows ≤
  |watermark| / |window| per sensor key regardless of stream length.
* Append output mode emits each window once (when the watermark
  passes it), and the sink keys its writes on ``batch_id`` (per-batch
  directory, overwrite) so even an at-least-once ``foreachBatch``
  replay after a mid-commit crash lands idempotently — re-running with
  ``availableNow`` after new files arrive adds only newly-finalized
  windows (verified by ``tests/test_streaming_plan.py``).
* All progress (source offsets + window state + watermark) lives in the
  checkpoint directory; the job is stop/start-safe at any trigger
  boundary.

Reference parity: this is the streaming form of the reference's
cron-driven ingest loop (``ifcb_ingest_and_qc.R`` top-level, SURVEY
§3.2) — the reference re-lists and diffs on every run; Structured
Streaming makes the diff incremental and the state fault-tolerant.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

READING_SCHEMA = (
    "sensor string, ts timestamp, value double, flag string"
)

_SENTINELS = (-999.0, -9.99)

# ONE definition of the window contract: windowed_means and batch_twin
# must stay in lockstep or the equivalence tests diff confusingly.
WINDOW = "10 minutes"
WATERMARK = "30 minutes"


def _cents(col: Column | None = None) -> Column:
    c = F.col("value") if col is None else col
    return F.floor(c * 100.0 + F.lit(0.5)).cast("long")


def qc_gate(readings: DataFrame) -> DataFrame:
    """The streaming-safe QC projection (F8 sentinel normalization +
    F12 threshold + F4-style flag removal): stateless, so it fuses into
    the source scan of every micro-batch."""
    value = F.col("value")
    for s in _SENTINELS:
        value = F.when(F.col("value") == s, F.lit(None)).otherwise(value)
    return (
        readings.withColumn("value", value)
        .where(F.col("value").isNotNull())
        .where(F.col("value") >= 0.0)
        .where(F.col("flag").isNull() | (F.col("flag") != "bad"))
    )


def windowed_means(readings: DataFrame) -> DataFrame:
    """10-min tumbling mean/count per sensor with a 30-min watermark —
    exact integer cents through the sum (finite-decimal rule)."""
    return (
        readings.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "sensor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents()).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "sensor",
            "n",
            "value_cents",
        )
    )


def run_streaming_tick(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """One ``availableNow`` pass: drain every not-yet-processed file,
    append newly-finalized windows to ``output_dir`` as parquet, then
    stop.  A failed or stalled stream raises (see
    :func:`~ifcb_data_pipeline_spark.streaming.incremental.drain`).

    Exactly-once is a TWO-part contract: append mode never re-emits a
    finalized window on the happy path, and the sink is keyed on
    ``batch_id`` (per-batch directory, overwrite mode) so a replay of a
    batch whose write landed but whose checkpoint commit did not simply
    overwrites the same directory — ``foreachBatch`` alone is only
    at-least-once.  Batch contents are deterministic per batch_id (the
    source offsets are committed before the sink runs)."""
    from ..streaming.incremental import drain, stream_directory

    stream = stream_directory(
        spark, input_dir, READING_SCHEMA, fmt="csv", options={"header": "true"}
    )
    finalized = windowed_means(qc_gate(stream))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite of the batch-keyed directory = idempotent replay;
        # no isEmpty() pre-check — it would execute the micro-batch plan
        # twice, and an empty overwrite only ever replaces an empty dir.
        batch_df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    drain(
        finalized.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "qc_windows"))
    )


def batch_twin(spark: SparkSession, input_dir: str) -> DataFrame:
    """The deterministic batch equivalent of the FINALIZED stream output
    given a final watermark: windows strictly older than
    max(ts) − 30 min are exactly the ones append mode has emitted."""
    readings = (
        spark.read.format("csv")
        .schema(READING_SCHEMA)
        .option("header", "true")
        .load(input_dir)
    )
    gated = qc_gate(readings)
    max_ts = gated.agg(F.max("ts").alias("m"))
    windows = (
        gated.groupBy(F.window("ts", WINDOW).alias("w"), "sensor")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("value_cents"))
    )
    return (
        windows.crossJoin(F.broadcast(max_ts))
        .where(F.col("w.end") <= F.col("m") - F.expr(f"INTERVAL {WATERMARK}"))
        .select(
            F.col("w.start").alias("window_start"), "sensor", "n", "value_cents"
        )
    )
