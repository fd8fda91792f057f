"""Composed-plan tests: SHARK mapping contract, EcoTaxa export, and the
incremental ingest+QC job (SURVEY §3.1-3.2 shapes)."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.plans.ecotaxa_export import (
    to_ecotaxa_rows,
    write_ecotaxa,
)
from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick, write_psd
from ifcb_data_pipeline_spark.plans.shark_mapping import (
    SHARK_COLUMNS,
    shark_mapping,
)
from ifcb_data_pipeline_spark.queries import load_all

REGISTRY = load_all()


def test_shark_mapping_contract(spark, sf_dir):
    flagship = REGISTRY["p1_shark_export"].fn(spark, sf_dir)
    shark = shark_mapping(flagship)
    assert shark.columns == SHARK_COLUMNS
    row = shark.first()
    assert row["PLATFORM_CODE"] == "IFCB" and row["ORDERER"] == "SMHI"
    assert row["MYEAR"] == row["SDATE"][:4]
    assert shark.count() == flagship.count()


def test_ecotaxa_export_double_header(spark):
    per_roi = spark.createDataFrame(
        [
            ("D20240423T115846_IFCB127", 1, 57.1, 11.2, "2024-04-23", "11:58:46",
             120.5, 900.1, "Beads"),
            ("D20240423T115846_IFCB127", 2, 57.1, 11.2, "2024-04-23", "11:58:46",
             80.0, 500.0, "Diatoms"),
        ],
        "sample string, roi_number int, lat double, lon double, sdate string,"
        " stime string, area double, biovolume double, class string",
    )
    rows = to_ecotaxa_rows(per_roi)
    assert rows.first()["img_file_name"].endswith("_00001")
    with tempfile.TemporaryDirectory() as tmp:
        out = write_ecotaxa(rows, f"{tmp}/ecotaxa")
        parts = glob.glob(os.path.join(out, "*", "part-*.csv"))
        assert len(parts) >= 2
        head = open(parts[0]).read().split("\n")[:2]
        assert head[0].startswith("img_file_name\t")
        assert head[1].startswith("[t]\t")


def test_ingest_tick_incremental(spark):
    bins = spark.createDataFrame(
        [(str(i), (i % 7) + 3) for i in range(1, 9)], "sample string, n_rois int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"
        r1 = ingest_tick(spark, bins, ckpt, out)
        assert r1["bins"] == 8
        assert r1["rois"] == sum((i % 7) + 3 for i in range(1, 9))
        # Idempotent second tick.
        r2 = ingest_tick(spark, bins, ckpt, out)
        assert r2 == {"bins": 0, "rois": 0, "psd_flagged": 0}
        # A new delivery processes only the new bin.
        more = bins.unionByName(
            spark.createDataFrame([("99", 5)], "sample string, n_rois int")
        )
        r3 = ingest_tick(spark, more, ckpt, out)
        assert r3["bins"] == 1 and r3["rois"] == 5
        feats = spark.read.parquet(f"{out}/features")
        assert feats.count() == r1["rois"] + 5
        assert feats.select("sample").distinct().count() == 9


def test_ingest_tick_reference_bin_ids(spark):
    """Real bin ids (not numeric strings) flow through the PSD step: psd
    ``sample`` is the bin id string, like the features and the ledger,
    and the flagged count equals the flagged psd rows."""
    ids = ["D20240423T115846_IFCB127", "D20240423T121213_IFCB127",
           "D20240424T000512_IFCB134"]
    bins = spark.createDataFrame(
        [(s, 24 + 3 * i) for i, s in enumerate(ids)], "sample string, n_rois int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"
        r1 = ingest_tick(spark, bins, ckpt, out)
        assert r1["bins"] == 3 and r1["rois"] == 24 + 27 + 30
        psd = spark.read.parquet(f"{out}/psd")
        assert psd.columns == ["sample", "n_bins", "a", "k", "r_sqr", "flag"]
        assert dict(psd.dtypes)["sample"] == "string"
        rows = psd.collect()
        assert {r["sample"] for r in rows} <= set(ids)
        assert r1["psd_flagged"] == sum(r["flag"] is not None for r in rows)
        ledger = spark.read.parquet(f"{ckpt}/ledger")
        assert sorted(r["sample"] for r in ledger.collect()) == ids
        assert ingest_tick(spark, bins, ckpt, out) == {
            "bins": 0, "rois": 0, "psd_flagged": 0,
        }


def _psd_panel(spark):
    """One clean and one poorly fitting bin id, as (sample, EquivDiameter)."""
    clean, poor = "D20240423T115846_IFCB127", "D20240423T121213_IFCB127"
    rows = []
    # clean: counts fall as a power law over size bins 1..6
    for b, n in zip(range(1, 7), (64, 16, 7, 4, 3, 2)):
        rows += [(clean, 2.0 * b + 0.5)] * n
    # poor: flat-then-spiky counts, no power law (r² well under 0.5)
    for b, n in zip(range(1, 7), (3, 9, 3, 9, 3, 9)):
        rows += [(poor, 2.0 * b + 0.5)] * n
    features = spark.createDataFrame(rows, "sample string, EquivDiameter double")
    return clean, poor, features


def test_write_psd_counts_flagged_samples(spark):
    """write_psd fits each bin id's size histogram (2.0-wide bins) and
    returns the flagged count observed on the write."""
    clean, poor, features = _psd_panel(spark)
    with tempfile.TemporaryDirectory() as tmp:
        assert write_psd(features, f"{tmp}/psd") == 1
        got = {r["sample"]: r for r in spark.read.parquet(f"{tmp}/psd").collect()}
    assert set(got) == {clean, poor}
    assert got[clean]["flag"] is None and got[clean]["r_sqr"] > 0.9
    assert got[poor]["flag"] == "Poor fit"
