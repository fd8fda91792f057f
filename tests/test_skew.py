"""Skew-mitigation combinators: salted results must equal unsalted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.skew import salted_aggregate
from ifcb_data_pipeline_spark.sources.tables import load_table


def test_salted_aggregate_matches_plain(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: r
        for r in lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("total"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: r
        for r in salted_aggregate(
            lineitem,
            keys=["l_returnflag"],
            aggs={
                "n": (None, "count", "sum"),
                "total": ("l_quantity", "sum", "sum"),
                "mx": ("l_extendedprice", "max", "max"),
            },
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k]["n"] == plain[k]["n"]
        assert salted[k]["total"] == pytest.approx(plain[k]["total"], rel=1e-12)
        assert salted[k]["mx"] == plain[k]["mx"]


def test_dd11_survivor_rule_under_planted_boilerplate(spark):
    """Correctness under the exact skew dd11's plan defends against: one
    boilerplate chunk planted in EVERY document.  The boilerplate must
    survive only in the (doc_id, pos)-minimal occurrence, every other
    doc drops exactly one chunk, and unique chunks are untouched."""
    import pandas as pd

    from ifcb_data_pipeline_spark.queries import load_all

    reg = load_all()
    boiler = "x " * 7 + "x"  # one 8-word span, identical everywhere
    docs = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
        for i in range(40)
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # registry queries read <sf_dir>/documents.parquet
        pdf.to_parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r["doc_id"]: r for r in reg["dd11_span_dedup"].fn(spark, d).collect()
        }
    assert rows[0]["n_dropped"] == 0                      # canonical keeps it
    assert all(rows[i]["n_dropped"] == 1 for i in range(1, 40))
    assert all(rows[i]["n_chunks"] == 2 for i in range(40))
