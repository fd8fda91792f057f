"""Incremental / streaming semantics — SURVEY §2.10 I1-I7.

The reference implements incremental batch by hand (anti-join work queues,
append merges, mtime caches).  Two first-class Spark expressions of the
same semantics:

* **Idempotent incremental batch** (:func:`new_work`, :func:`record_done`,
  :class:`CheckpointedJob`): a processed-keys ledger table + ``left_anti``
  derivation of pending work — exactly-once per key, safe to re-run,
  resumable after failure.  This is the 100 TB-friendly default (the
  ledger is a partitioned parquet table; the anti-join broadcasts when the
  ledger is small and shuffles on key otherwise).
* **Structured Streaming file source** (:func:`stream_directory`): new
  files under a directory become micro-batches
  (``ifcb_ingest_and_qc.R:92-166``'s delivery-dir sync), with checkpointed
  progress for exactly-once sinks.  :func:`drain` is the one way the
  package runs such a stream: an ``availableNow`` pass that raises on
  failure.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# Upper bound on one availableNow pass.  The registry's drains (st1–st8
# at sf0.001 and sf0.1) take 1.4–12 s on 4 cores, the first, cold one
# in a session the longest, so a pass still running at this bound has
# stalled.
DRAIN_TIMEOUT_S = 120


def new_work(candidates: DataFrame, ledger: DataFrame, key: str) -> DataFrame:
    """Work-queue derivation (I2): candidate keys not yet in the ledger
    (``ifcb_ingest_and_qc.R:172-181`` bins-without-features)."""
    return candidates.join(ledger.select(key).dropDuplicates(), key, "left_anti")


class CheckpointedJob:
    """Anti-join checkpointing harness (I1-I4): process only unseen keys,
    append results and ledger entries atomically enough for re-runs to be
    idempotent (a crashed run reprocesses at most the in-flight batch)."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str, key: str):
        self.spark = spark
        self.key = key
        self.ledger_path = os.path.join(checkpoint_dir, "ledger")

    def ledger(self) -> DataFrame:
        """The processed keys; empty before the first ``mark_done``.  The
        declared schema spares a schema-inference job per read.  Only a
        missing ledger reads as empty: an unreadable one raises, since
        treating it as empty would re-queue every key and append its
        output twice.  Whether it is missing is asked of the Hadoop
        file system that will read it, so any path Spark reads works; a
        failed read would log a ``FileNotFoundException`` stack first."""
        schema = f"{self.key} string"
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(self.ledger_path)
        if not path.getFileSystem(sc._jsc.hadoopConfiguration()).exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self.ledger_path)

    def pending(self, candidates: DataFrame) -> DataFrame:
        return new_work(candidates, self.ledger(), self.key)

    def mark_done(self, done_keys: DataFrame) -> None:
        done_keys.select(F.col(self.key).cast("string")).write.mode("append").parquet(
            self.ledger_path
        )


def stream_directory(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "csv",
    options: dict | None = None,
):
    """File-arrival streaming source (I1): each new file under ``path``
    enters exactly one micro-batch."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer`` with an ``availableNow`` trigger and wait until it
    has processed every input present at start, then stop it.

    A query that fails raises its own error (``AnalysisException`` at
    start, ``StreamingQueryException`` while running); one still running
    after ``DRAIN_TIMEOUT_S`` raises ``TimeoutError``.  The query is
    stopped on every path, so a re-run in the same session starts
    clean."""
    query = writer.trigger(availableNow=True).start()
    try:
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"stream {query.name or query.id} still running after "
                f"{DRAIN_TIMEOUT_S} s"
            )
    finally:
        query.stop()


def undelivered_recent(
    bins: DataFrame, delivered: DataFrame, key: str = "sample", newest_k: int = 50
) -> DataFrame:
    """I5 already-delivered short-circuit
    (``ifcb_delivery_data_to_shark.R:144-160``): the newest ``newest_k``
    bins (bin ids sort chronologically) anti-joined against the
    delivered set.  An empty result is the caller's signal to quit the
    delivery run early — the driver-side guard query of SURVEY §2.10."""
    recent = bins.select(key).dropDuplicates().orderBy(F.col(key).desc()).limit(newest_k)
    return recent.join(delivered.select(key).dropDuplicates(), key, "left_anti")


def suppress_duplicate_comments(
    candidates: DataFrame,
    existing: DataFrame,
    keys: tuple[str, str] = ("sample", "comment"),
) -> DataFrame:
    """I6 duplicate-comment suppression
    (``ifcb_ingest_and_qc.R:409-422``): drop candidate dashboard
    comments whose (sample, comment) already exists remotely — an
    anti-join on the composite key, idempotent across reruns."""
    return candidates.join(
        existing.select(*keys).dropDuplicates(), list(keys), "left_anti"
    )

