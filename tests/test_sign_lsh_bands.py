"""The sign-LSH band projection against an independent Python reference.

``operators/dedup.sign_lsh_bands`` emits the banded signatures as one
Spark SQL expression string.  Every band's bits are checked here
against an explicit left-to-right float loop over the md5 planes — the
fold ``similarity.dot`` and the DuckDB oracles evaluate — on the
registry shapes (dd5/tp2 64×4×4, sim2 64×4×8, sim12 64×8×8) and on
dim-16 adversarial vectors whose components span twenty decades.
``sum()`` is not a reference (compensated summation since 3.12), nor is
BLAS (reordered).  The element type and the DOUBLE typing of the plane
literals are pinned as well: a bare ``1.0`` in Spark SQL is a DECIMAL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.dedup import sign_hyperplanes, sign_lsh_bands
from ifcb_data_pipeline_spark.sources.tables import load_table
from tests.test_fan_out import _adversarial_vectors


def _reference_bands(
    v: list[float], dim: int, bands: int, rows: int
) -> list[tuple[int, str]]:
    planes = sign_hyperplanes(dim, bands * rows)
    out = []
    for b in range(bands):
        bits = ""
        for plane in planes[b * rows : (b + 1) * rows]:
            acc = 0.0
            for x, p in zip(v, plane):
                acc = acc + x * p
            bits += "1" if acc > 0 else "0"
        out.append((b, bits))
    return out


@pytest.mark.parametrize(
    "dim,bands,rows,source",
    [
        (64, 4, 4, "embeddings"),
        (64, 4, 8, "embeddings"),
        (64, 8, 8, "embeddings"),
        (64, 8, 8, "adversarial"),
        (16, 4, 4, "adversarial"),
    ],
)
def test_bands_match_left_to_right_reference(
    spark, sf_dir, dim, bands, rows, source
):
    if source == "embeddings":
        vecs = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < 200)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        )
    else:
        rows_in = _adversarial_vectors(dim=dim) + [(10_000, [0.0] * dim)]
        vecs = spark.createDataFrame(rows_in, "vec_id long, v array<double>")
    coded = vecs.select("v", sign_lsh_bands("v", dim, bands, rows).alias("bs"))
    element = coded.schema["bs"].dataType.elementType
    assert element.simpleString() == "struct<band:int,sig:string>"
    got = coded.collect()
    assert len(got) >= 60
    for r in got:
        assert [(s["band"], s["sig"]) for s in r["bs"]] == _reference_bands(
            r["v"], dim, bands, rows
        ), r["v"]


def test_plane_literals_are_double(spark):
    """DECIMAL plane literals would give the same bits through an
    implicit cast, so only the analyzed plan's literal types show them
    (checked on a 4×1×2 projection; the plan JSON grows with the shape)."""
    vecs = spark.createDataFrame([([1.0, -2.0, 3.0, -4.0],)], "v array<double>")
    plan = vecs.select(sign_lsh_bands("v", 4, 1, 2))._jdf.queryExecution().analyzed()
    assert "decimal" not in plan.toJSON()
