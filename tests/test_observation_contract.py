"""The runtime contract the package's observed metrics rely on.

``graph.connected_components`` and ``graph.pagerank`` read
``Observation.get`` right after a ``localCheckpoint()``, and
``plans.ingest_qc.write_psd`` reads it right after a parquet append.
None of them has a second path: ``get`` blocks until the observed
action has reported its metrics.  These tests pin that classic Spark
reports them after both actions, on a non-empty frame and on every
empty shape a pipeline stage can hand over.

The wait here is bounded (a daemon thread and a 30 s queue), so a Spark
version that stops reporting the metrics fails this file instead of
hanging the suite.
"""

from __future__ import annotations

import queue
import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

_WAIT_S = 30.0

SHAPES = {
    "nonempty": lambda spark: spark.range(1000),
    "range0": lambda spark: spark.range(0),
    "filtered_to_empty": lambda spark: spark.range(100).where(F.col("id") < 0),
    "created_empty": lambda spark: spark.createDataFrame([], "id long"),
    "aggregate_of_empty": lambda spark: spark.range(0).groupBy("id").count().select("id"),
    "join_with_empty": lambda spark: spark.range(100).join(spark.range(0), "id"),
    "limit0": lambda spark: spark.range(100).limit(0),
}

ACTIONS = {
    "localCheckpoint": lambda df, path: df.localCheckpoint(),
    "parquet_append": lambda df, path: df.write.mode("append").parquet(path),
}


def _get_within(obs: Observation, timeout_s: float) -> dict:
    """``obs.get``, failing the test instead of blocking past ``timeout_s``."""
    box: queue.Queue = queue.Queue(maxsize=1)

    def poll() -> None:
        try:
            box.put((True, obs.get))
        except Exception as exc:
            box.put((False, exc))

    threading.Thread(target=poll, daemon=True, name="obs-get").start()
    try:
        ok, got = box.get(timeout=timeout_s)
    except queue.Empty:
        pytest.fail(f"Observation metrics not delivered within {timeout_s} s")
    if not ok:
        raise got
    return got


@pytest.mark.parametrize("action", sorted(ACTIONS))
@pytest.mark.parametrize("shape", list(SHAPES))
def test_observed_metrics_arrive_after_the_action(spark, tmp_path, shape, action):
    obs = Observation()
    df = SHAPES[shape](spark).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    )
    ACTIONS[action](df, str(tmp_path / "out"))
    want = {"n": 1000, "s": 499500} if shape == "nonempty" else {"n": 0, "s": None}
    assert _get_within(obs, _WAIT_S) == want
