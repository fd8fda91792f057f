"""Direct regression coverage for the distributed prefix-sum combinator
(``operators/windows.grouped_prefix_sum``) — the machinery behind
o1/o9/o10/dp8/dp12/tp4/sp6/sp11 — and the global rank it gives as a
prefix sum of ones.

Round-6 incident: the pid-stamped range frame was consumed by two plan
branches; when the two range exchanges were not deduplicated, each
sampled its own boundaries and ``__pid`` disagreed between branches,
silently corrupting ranks (the intermittent sp6 driver red row).  The
fix materializes the frame once (``localCheckpoint``).  These tests pin
the SEMANTICS under config perturbations that change exchange planning
(AQE on/off, shuffle-partition counts) — the knobs that made the
dual-sampling hazard fire — by comparing against the obviously-correct
single-partition window forms on skewed synthetic data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.windows import grouped_prefix_sum

# Skewed, duplicate-free key set: one hot group holding half the rows
# plus many cold groups — the shape the two-level forms exist for.
N_ROWS = 5_000


def _synthetic(spark):
    return (
        spark.range(N_ROWS)
        .select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 97).cast("string")))
            .alias("grp"),
            # non-monotone order key with collisions across groups
            F.pmod(F.col("id") * 2654435761, F.lit(100_000)).alias("ord"),
            (F.col("id") % 13 + 1).alias("val"),
        )
        .repartition(16, "id")  # scatter input so ranges must be sampled
    )


CONFIGS = [
    {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "32"},
    {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "32"},
    {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "7"},
]


def _global_rank(df):
    """Rank over (ord, id) the way o1/o10/tp4 take it: the prefix sum of
    a ones column with no group columns."""
    return grouped_prefix_sum(
        df.withColumn("one", F.lit(1)), [], [F.col("ord"), F.col("id")], "one", "rank"
    )


def _with_confs(spark, confs):
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return old


@pytest.mark.parametrize("confs", CONFIGS)
def test_global_rank_matches_window_oracle(spark, confs):
    old = _with_confs(spark, confs)
    try:
        df = _synthetic(spark)
        got = {
            r["id"]: r["rank"]
            for r in _global_rank(df).collect()
        }
        want = {
            r["id"]: r["rank"]
            for r in df.withColumn(
                "rank",
                F.row_number().over(Window.orderBy("ord", "id")).cast("long"),
            ).collect()
        }
        assert got == want
    finally:
        _with_confs(spark, old)


@pytest.mark.parametrize("confs", CONFIGS)
def test_grouped_prefix_sum_matches_window_oracle(spark, confs):
    old = _with_confs(spark, confs)
    try:
        df = _synthetic(spark)
        got = {
            (r["grp"], r["id"]): r["cum"]
            for r in grouped_prefix_sum(
                df, ["grp"], ["ord", "id"], "val", out_col="cum"
            ).collect()
        }
        w = (
            Window.partitionBy("grp")
            .orderBy("ord", "id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = {
            (r["grp"], r["id"]): r["cum"]
            for r in df.withColumn("cum", F.sum("val").over(w)).collect()
        }
        assert got == want
    finally:
        _with_confs(spark, old)


def test_global_rank_is_repeatable(spark):
    """Five plans built from scratch must agree exactly — the round-6
    failure mode was run-to-run divergence, not a deterministic bug."""
    df = _synthetic(spark)
    runs = [
        tuple(
            sorted(
                (r["id"], r["rank"])
                for r in _global_rank(df).collect()
            )
        )
        for _ in range(5)
    ]
    assert all(run == runs[0] for run in runs)
