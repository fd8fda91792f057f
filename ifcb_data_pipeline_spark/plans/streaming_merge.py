"""Streaming CDC apply — ``foreachBatch`` MERGE without a transactional
table format.

`queries/joins.i10_merge_upsert` verifies the per-batch MERGE plan
(latest-wins + tombstones) against a SQL oracle; this plan runs that
merge CONTINUOUSLY: a parquet change stream drained micro-batch by
micro-batch, each batch folded into a versioned snapshot directory.

Correctness contract (pinned by ``tests/test_streaming_merge.py``):

* **Slicing-invariance.** Latest-wins by ``(ts, event_id)`` is an
  associative, commutative fold as long as tombstones are RETAINED in
  state (a dropped tombstone would let an older, late-arriving change
  wrongly re-insert its key).  So the final state is identical no
  matter how the change stream is sliced into micro-batches — even
  deliberately time-shuffled slices.  ``current_snapshot`` filters the
  tombstone rows at read time.
* **Exactly-once.** Each batch writes snapshot version ``v{batch_id}``
  derived from the LATEST version strictly below ``batch_id`` — an
  at-least-once ``foreachBatch`` replay of batch N re-reads v<N and
  overwrites v{N} with identical content (idempotent); a crash between
  write and commit re-runs the same fold.

Scale: state is one id-partitioned parquet table; each micro-batch
costs (reduce batch to latest-per-key) + ONE full-outer equi-join on
user_id against the snapshot — the same two key-balanced shuffles i10
runs, with the snapshot bucketable on user_id to make the join
exchange-free (plans/bucketing.py).  Reference parity: the streaming
form of the reference's per-run "merge new results into the delivered
dataset" step (``ifcb-data-pipeline.Rmd`` append-merge, SURVEY §2.10
I4) with mutable-key semantics added.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import stream_schema
from ..streaming.incremental import drain

STATE_SCHEMA = (
    "user_id bigint, last_type string, value double, last_ts timestamp,"
    " last_event_id bigint"
)

TOMBSTONE = "error"


def latest_per_key(changes: DataFrame) -> DataFrame:
    """Reduce a change batch to its winning row per key (latest by
    (ts, event_id)) in state schema."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            "value",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
        )
    )


def merge_state(state: DataFrame, batch: DataFrame) -> DataFrame:
    """One latest-wins fold step: newer (last_ts, last_event_id) wins.

    Tombstone rows WIN like any other row and are kept in state — they
    must shadow older late arrivals (see module docstring)."""
    b = latest_per_key(batch)
    s = state.alias("s")
    b = b.alias("b")
    newer = (F.col("b.last_ts") > F.col("s.last_ts")) | (
        (F.col("b.last_ts") == F.col("s.last_ts"))
        & (F.col("b.last_event_id") > F.col("s.last_event_id"))
    )
    pick = lambda c: F.when(  # noqa: E731
        F.col("b.user_id").isNull(), F.col(f"s.{c}")
    ).otherwise(
        F.when(F.col("s.user_id").isNull() | newer, F.col(f"b.{c}")).otherwise(
            F.col(f"s.{c}")
        )
    )
    return s.join(b, F.col("s.user_id") == F.col("b.user_id"), "full_outer").select(
        F.coalesce("s.user_id", "b.user_id").alias("user_id"),
        pick("last_type").alias("last_type"),
        pick("value").alias("value"),
        pick("last_ts").alias("last_ts"),
        pick("last_event_id").alias("last_event_id"),
    )


def current_snapshot(state: DataFrame) -> DataFrame:
    """The user-visible table: tombstoned keys removed."""
    return state.where(F.col("last_type") != TOMBSTONE)


def _empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], STATE_SCHEMA)


def _latest_version(state_dir: str, below: int | None = None) -> int | None:
    if not os.path.isdir(state_dir):
        return None
    versions = [
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("v") and d[1:].isdigit()
        and (below is None or int(d[1:]) < below)
    ]
    return max(versions) if versions else None


def read_state(spark: SparkSession, state_dir: str, below: int | None = None) -> DataFrame:
    v = _latest_version(state_dir, below)
    if v is None:
        return _empty_state(spark)
    return spark.read.schema(STATE_SCHEMA).parquet(os.path.join(state_dir, f"v{v}"))


def run_merge_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the change directory with availableNow, one file per
    micro-batch, folding each batch into a new snapshot version.  A
    failed or stalled stream raises (see
    :func:`~ifcb_data_pipeline_spark.streaming.incremental.drain`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        state = read_state(spark, state_dir, below=batch_id)
        merged = merge_state(state, batch_df)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )

    stream = (
        spark.readStream.format("parquet")
        .schema(stream_schema("events"))
        .option("maxFilesPerTrigger", 1)
        .load(input_dir)
    )
    drain(
        stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint_dir
        )
    )
