"""Laws for fan_out and the LSH norm precompute.

Two claims these optimizations rest on, pinned so they can't silently rot:

1. ``fan_out`` is a structural NO-OP whenever the scan already has at
   least the session parallelism — the at-scale case (splits >> cores).
   If this law broke, every call site would inject a gratuitous
   exchange into at-scale plans.
2. ``embedding_lsh_pairs``'s vector-side self-norm precompute is
   FLOAT-IDENTICAL to the inline three-fold form: ``na``/``nb`` are the
   same left-to-right ``dot`` folds over the same doubles, and
   ``sqrt(na * nb)`` multiplies in the same order.  Verified
   bit-level (struct equality on the raw doubles, no rounding) over an
   adversarial vector set — near-orthogonal pairs, denormal-ish scales,
   negative components.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.dedup import ROUND_DIGITS, embedding_lsh_pairs
from ifcb_data_pipeline_spark.operators.skew import fan_out
from ifcb_data_pipeline_spark.operators.similarity import dot


def test_fan_out_estimate_matches_spark_bin_packing(spark, tmp_path):
    """The split estimator reproduces FilePartition.getFilePartitions
    exactly (ADVICE r16: close on size + next LENGTH > maxSplitBytes,
    open cost added after) — pinned against Spark's own partition count
    on a many-tiny-files layout, where the old close condition
    over-counted by ~2x."""
    from ifcb_data_pipeline_spark.operators.skew import (
        _estimate_scan_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide")
    spark.range(0, 10_000).repartition(cores + 5).write.parquet(path)
    df = spark.read.parquet(path)
    actual = df.rdd.getNumPartitions()
    assert _estimate_scan_partitions(df) == actual
    # Real Spark bin-packs tiny files BELOW core count here (open cost
    # dominates), so this layout is genuinely starved and fan_out
    # correctly raises it.
    raised = fan_out(df)
    if actual < cores:
        assert raised is not df
        assert raised.rdd.getNumPartitions() == cores

    # No-op law: a split size small enough that the same files yield at
    # least one split per core makes the scan un-starved, and fan_out
    # returns the frame itself.
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        df = spark.read.parquet(path)
        actual = df.rdd.getNumPartitions()
        assert actual >= cores
        assert _estimate_scan_partitions(df) == actual
        assert fan_out(df) is df
    finally:
        spark.conf.set(key, old)


def test_fan_out_noop_on_in_memory_frames(spark):
    """No inputFiles -> the scan-split estimate is unknown -> fan_out
    assumes an un-starved source (the at-scale truth) and no-ops."""
    df = spark.range(0, 1_000, numPartitions=1)
    assert fan_out(df) is df


def test_fan_out_raises_starved_scan_to_parallelism(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "narrow")
    spark.range(0, 10_000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = fan_out(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == cores
    # round-robin repartition preserves the multiset of rows
    assert out.count() == 10_000
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))


def test_fan_out_path_never_touches_df_rdd():
    """The split probe must stay logical-plan-only: df.rdd forces
    physical planning per call, reports pre-AQE counts downstream of a
    shuffle, and breaks under Spark Connect (silently converting the
    frame).  Lint the source so a regression can't land."""
    import ast
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "ifcb_data_pipeline_spark"
        / "operators"
        / "skew.py"
    ).read_text()
    tree = ast.parse(src)
    offenders = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "rdd"
    ]
    assert not offenders, f"df.rdd access in operators/skew.py at {offenders}"


def _adversarial_vectors(dim: int = 16, n: int = 60) -> list[tuple[int, list[float]]]:
    rng = random.Random(1543)
    rows = []
    for i in range(n):
        scale = 10.0 ** rng.randint(-12, 8)
        v = [rng.gauss(0.0, 1.0) * scale for _ in range(dim)]
        rows.append((i, v))
    # planted exact duplicates and scaled copies (the dedup targets)
    rows.append((n, list(rows[0][1])))
    rows.append((n + 1, [x * 1.5 for x in rows[1][1]]))
    return rows


def test_lsh_norm_precompute_is_float_identical(spark):
    dim = 16
    rows = _adversarial_vectors(dim=dim)
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>")

    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_lsh_pairs(
            vecs, dim=dim, bands=4, rows_per_band=4, threshold=-2.0
        ).collect()
    }
    assert got, "candidate set unexpectedly empty"

    # Reference: the pre-batch inline form — three dim-length folds per
    # pair — evaluated by the SAME Spark expression engine on the same
    # candidate pairs, unrounded raw doubles compared for equality after
    # the shared dround(6).
    cand = spark.createDataFrame(
        [(a, b) for (a, b) in got], "vec_a long, vec_b long"
    )
    ea = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    # Shared rounding helper (not an inline floor-form re-derivation):
    # if dround or embedding_lsh_pairs' ROUND_DIGITS ever changes, this
    # reference path follows instead of silently diverging from
    # production rounding.
    from ifcb_data_pipeline_spark.functions.scalars import dround

    inline = dround(
        dot(F.col("va"), F.col("vb"))
        / F.sqrt(dot(F.col("va"), F.col("va")) * dot(F.col("vb"), F.col("vb"))),
        ROUND_DIGITS,
    )
    want = {
        (r["vec_a"], r["vec_b"]): r["cos_ref"]
        for r in cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", inline.alias("cos_ref"))
        .collect()
    }
    assert set(got) == set(want)
    for key, val in got.items():
        ref = want[key]
        assert (val == ref) or (math.isnan(val) and math.isnan(ref)), (
            key,
            val,
            ref,
        )
