"""Source/sink tests over synthetic instrument files (SURVEY §5 T3-lite)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.sources.hdr import read_hdr_directory
from ifcb_data_pipeline_spark.sources.listing import (
    list_files,
    max_version_per_year,
    size_gated,
)
from ifcb_data_pipeline_spark.sources.sinks import write_delivery_tsv

HDR_TEMPLATE = """softwareVersion: 1.2.3
sampleNumber: {n}
gpsLatitude: {lat}
gpsLongitude: {lon}
gpsTimeFromFix: Apr/23/2024 11:58:40
mlAnalyzed: {ml}
runTime: 1199.6
inhibitTime: 88.2
other: junk: with: colons
"""


@pytest.fixture(scope="module")
def hdr_dir():
    with tempfile.TemporaryDirectory() as tmp:
        for i, (lat, lon, ml) in enumerate(
            [(57.1, 11.2, 4.2), (58.0, 12.5, 3.1), (55.5, 14.0, 5.0)]
        ):
            name = f"D2024042{i}T11584{i}_IFCB134.hdr"
            with open(os.path.join(tmp, name), "w") as f:
                f.write(HDR_TEMPLATE.format(n=i + 1, lat=lat, lon=lon, ml=ml))
        yield tmp


def test_read_hdr_directory(spark, hdr_dir):
    df = read_hdr_directory(spark, hdr_dir)
    rows = {r["sample"]: r for r in df.collect()}
    assert len(rows) == 3
    r0 = rows["D20240420T115840_IFCB134"]
    assert r0["gpsLatitude"] == 57.1
    assert r0["mlAnalyzed"] == 4.2
    assert r0["ifcb_number"] == "IFCB134"
    assert r0["timestamp"].year == 2024 and r0["timestamp"].second == 40
    assert r0["sampleNumber"] == 1


def test_listing_and_version_pick(spark):
    with tempfile.TemporaryDirectory() as tmp:
        for name, size in [
            ("D2023_class_v2.mat", 10),
            ("D2023_class_v5.mat", 10),
            ("D2024_class_v1.mat", 10),
            ("D2024_huge_v9.mat", 64),
        ]:
            with open(os.path.join(tmp, name), "wb") as f:
                f.write(b"x" * size)
        files = list_files(spark, tmp, "*.mat")
        assert files.count() == 4
        ok, skipped = size_gated(files, max_bytes=32)
        assert skipped.count() == 1  # the over-threshold file
        best = {
            r["year"]: r["version"]
            for r in max_version_per_year(ok).collect()
        }
        assert best == {2023: 5, 2024: 1}


def test_delivery_tsv_null_semantics(spark):
    df = spark.createDataFrame(
        [("s1", 1.5, None), ("s2", None, "flagged")],
        "sample string, value double, flag string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "data.txt")
        write_delivery_tsv(df.orderBy("sample"), path)
        text = open(path).read()
    lines = text.strip().split("\n")
    assert lines[0] == "sample\tvalue\tflag"
    assert "s1\t1.5\t" in lines and "s2\t\tflagged" in lines


def test_delivery_note_render(spark):
    from ifcb_data_pipeline_spark.sources.delivery_note import render_template

    meta = spark.createDataFrame(
        [(2024, 123, "2024-05-01")], "year int, n_samples long, delivered string"
    )
    note = render_template(
        "SHARK delivery {year}: {n_samples} samples on {delivered}", meta
    )
    assert note == "SHARK delivery 2024: 123 samples on 2024-05-01"


def test_features_csv_read(spark, tmp_path):
    from ifcb_data_pipeline_spark.sources.features_csv import (
        FEATURES_V4_SCHEMA,
        read_features_csv,
    )

    features = FEATURES_V4_SCHEMA.fieldNames()[1:]
    bins = {"D20240423T115840_IFCB134": 3, "D20240424T120000_IFCB110": 2}
    for sample, n in bins.items():
        lines = [",".join(["roi_number", *features])]
        for roi in range(1, n + 1):
            lines.append(",".join([str(roi)] + [f"{roi}.{j:02d}" for j in range(len(features))]))
        (tmp_path / f"{sample}_fea_v4.csv").write_text("\n".join(lines) + "\n")
    (tmp_path / "class_scores.csv").write_text("roi_number,score\n1,0.5\n")

    df = read_features_csv(spark, str(tmp_path))
    assert len(features) == 30
    assert df.dtypes == [("sample", "string"), ("roi_number", "int")] + [
        (c, "double") for c in features
    ]
    got = {(r["sample"], r["roi_number"]): [r[c] for c in features] for r in df.collect()}
    assert got == {
        (sample, roi): [float(f"{roi}.{j:02d}") for j in range(30)]
        for sample, n in bins.items()
        for roi in range(1, n + 1)
    }

    # a file whose header orders the features differently fails the read
    # instead of landing its values in the wrong columns
    swapped = ["roi_number", features[1], features[0], *features[2:]]
    (tmp_path / "D20240425T120000_IFCB134_fea_v4.csv").write_text(
        ",".join(swapped) + "\n" + ",".join(["1"] + ["0.5"] * 30) + "\n"
    )
    with pytest.raises(Exception, match="does not conform to the schema"):
        read_features_csv(spark, str(tmp_path)).collect()


def test_partitioned_class_sink(spark):
    import glob
    import tempfile

    from ifcb_data_pipeline_spark.sources.sinks import write_partitioned_by_class

    df = spark.createDataFrame(
        [("s1", "Beads", 1.0), ("s2", "Beads", 2.0), ("s3", "Diatoms", 3.0)],
        "sample string, class string, value double",
    )
    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/ecotaxa"
        write_partitioned_by_class(df, out)
        dirs = sorted(
            p.split("class=")[1] for p in glob.glob(f"{out}/class=*")
        )
        assert dirs == ["Beads", "Diatoms"]


def test_sqlite_manual_annotations(spark):
    import sqlite3
    import tempfile

    from ifcb_data_pipeline_spark.operators.aggregates import last_per_group
    from ifcb_data_pipeline_spark.sources.sqlite import read_sqlite_table

    with tempfile.TemporaryDirectory() as tmp:
        db = f"{tmp}/annotations.db"
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE annotations (sample_name TEXT, roi_number INT,"
            " class_name TEXT, annotator TEXT, ts TEXT)"
        )
        con.executemany(
            "INSERT INTO annotations VALUES (?,?,?,?,?)",
            [
                ("b1", 1, "Beads", "anna", "2024-01-01T10:00:00"),
                ("b1", 1, "Diatoms", "bo", "2024-02-01T10:00:00"),
                ("b2", 3, "Beads", "anna", "2024-01-05T10:00:00"),
            ],
        )
        con.commit()
        con.close()
        df = read_sqlite_table(
            spark, db, "annotations",
            "sample_name string, roi_number long, class_name string,"
            " annotator string, ts string",
        )
        assert df.count() == 3
        # A8: latest annotation per sample wins.
        latest = last_per_group(df, ["sample_name"], "ts")
        got = {r["sample_name"]: r["class_name"] for r in latest.collect()}
        assert got == {"b1": "Diatoms", "b2": "Beads"}


def test_binary_scan_structure(spark):
    # The .mat/.h5 decoders need libs absent here; the scan half (file →
    # (sample, content) rows) must still work.
    import tempfile

    from ifcb_data_pipeline_spark.sources.binary_formats import _binary_scan

    with tempfile.TemporaryDirectory() as tmp:
        with open(f"{tmp}/D20240101T000000_IFCB1_class_v1.h5", "wb") as f:
            f.write(b"\x89HDF")
        files = _binary_scan(spark, tmp, "*.h5")
        row = files.first()
        assert row["sample"] == "D20240101T000000_IFCB1_class_v1"
        assert bytes(row["content"]) == b"\x89HDF"


def test_image_sink_and_zip_split(spark):
    import os
    import tempfile
    import zipfile as zf

    from ifcb_data_pipeline_spark.operators.multimodal import explode_bins_to_rois
    from ifcb_data_pipeline_spark.sources.image_sink import (
        write_images_by_class,
        zip_with_splitting,
    )

    bins = spark.createDataFrame(
        [("b1", 4), ("b2", 3)], "sample string, n_rois int"
    )
    rois = explode_bins_to_rois(bins).withColumn(
        "class", F.when(F.col("roi_number") % 2 == 0, "Beads").otherwise("Diatoms")
    )
    with tempfile.TemporaryDirectory() as tmp:
        out = write_images_by_class(rois, f"{tmp}/imgs")
        classes = sorted(os.listdir(out))
        assert classes == ["Beads", "Diatoms"]
        n_files = sum(len(os.listdir(os.path.join(out, c))) for c in classes)
        assert n_files == 7
        # Tiny max size forces multiple archive parts.
        parts = zip_with_splitting(out, f"{tmp}/archive", max_bytes=600)
        assert len(parts) > 1
        names = []
        for p in parts:
            with zf.ZipFile(p) as z:
                names.extend(z.namelist())
        assert len(names) == 7  # every image in exactly one part


def test_adc_roi_roundtrip(spark):
    """Synthesize a bin (.adc + .roi), read it back, verify every image
    slice (S2 byte-exact roundtrip)."""
    import tempfile

    from ifcb_data_pipeline_spark.sources.adc_roi import read_roi_images

    with tempfile.TemporaryDirectory() as tmp:
        blob = bytearray()
        adc_lines = []
        expected = {}
        offset = 0
        for trig, (w, h) in enumerate([(4, 3), (0, 0), (5, 2)], start=1):
            img = bytes((trig * 7 + i) % 256 for i in range(w * h))
            if w > 0:
                expected[trig] = (img, w, h)
            # v2 layout: trigger in col 0, width/height/start in 14/15/16.
            row = ["0"] * 17
            row[0] = str(trig)
            row[14], row[15], row[16] = str(w), str(h), str(offset)
            adc_lines.append(",".join(row))
            blob += img
            offset += len(img)
        sample = "D20240101T120000_IFCB134"
        with open(f"{tmp}/{sample}.adc", "w") as f:
            f.write("\n".join(adc_lines))
        with open(f"{tmp}/{sample}.roi", "wb") as f:
            f.write(bytes(blob))

        rois = read_roi_images(spark, tmp)
        got = {r["roi_number"]: r for r in rois.collect()}
        assert set(got) == set(expected)  # width-0 trigger rows dropped
        for trig, (img, w, h) in expected.items():
            r = got[trig]
            assert bytes(r["image"]) == img
            assert (r["width"], r["height"]) == (w, h)
            assert r["sample"] == sample


# --- S4/S5: classifier score scans -----------------------------------------
# Fixture bytes are built here from the PUBLISHED MAT v5 spec (an
# independent writer), so parse_mat_v5 is byte-exact tested without scipy.

import struct
import zlib

import numpy as np


def _mat_element(mtype: int, payload: bytes, small: bool = False) -> bytes:
    if small and len(payload) <= 4:
        return struct.pack("<HH", mtype, len(payload)) + payload.ljust(4, b"\x00")
    pad = (-len(payload)) % 8
    return struct.pack("<II", mtype, len(payload)) + payload + b"\x00" * pad


def _mat_char_matrix(name: str, text: str) -> bytes:
    flags = _mat_element(6, struct.pack("<II", 4, 0))          # mxCHAR_CLASS
    dims = _mat_element(5, struct.pack("<ii", 1, len(text)))
    nm = _mat_element(1, name.encode("ascii"), small=len(name) <= 4)
    data = _mat_element(4, text.encode("utf-16-le"))           # miUINT16
    return _mat_element(14, flags + dims + nm + data)


def _mat_cell_of_chars(name: str, items: list[str]) -> bytes:
    flags = _mat_element(6, struct.pack("<II", 1, 0))          # mxCELL_CLASS
    dims = _mat_element(5, struct.pack("<ii", len(items), 1))
    nm = _mat_element(1, name.encode("ascii"), small=len(name) <= 4)
    cells = b"".join(_mat_char_matrix("", s) for s in items)
    return _mat_element(14, flags + dims + nm + cells)


def _mat_double_matrix(name: str, values: list[float]) -> bytes:
    flags = _mat_element(6, struct.pack("<II", 6, 0))          # mxDOUBLE_CLASS
    dims = _mat_element(5, struct.pack("<ii", 1, len(values)))
    nm = _mat_element(1, name.encode("ascii"), small=len(name) <= 4)
    data = _mat_element(9, np.array(values, dtype="<f8").tobytes())
    return _mat_element(14, flags + dims + nm + data)


def _mat_file(*elements: bytes, compress: bool = False) -> bytes:
    header = b"MATLAB 5.0 MAT-file, spec-built test fixture".ljust(124, b" ")
    header += struct.pack("<H", 0x0100) + b"IM"
    body = b"".join(elements)
    if compress:
        body = b"".join(_mat_element(15, zlib.compress(e)) for e in elements)
    return header + body


def test_parse_mat_v5_roundtrip():
    from ifcb_data_pipeline_spark.sources.mat_v5 import parse_mat_v5

    content = _mat_file(
        _mat_cell_of_chars("TBclass", ["Mesodinium_rubrum", "unclassified", "Skeletonema"]),
        _mat_char_matrix("classifierName", "Baltic_v4"),
        _mat_double_matrix("TBscores", [0.9, 0.5, 0.75]),
    )
    out = parse_mat_v5(content)
    assert out["TBclass"] == ["Mesodinium_rubrum", "unclassified", "Skeletonema"]
    assert out["classifierName"] == "Baltic_v4"
    assert np.allclose(out["TBscores"].ravel(), [0.9, 0.5, 0.75])


def test_parse_mat_v5_compressed_elements():
    from ifcb_data_pipeline_spark.sources.mat_v5 import parse_mat_v5

    content = _mat_file(
        _mat_cell_of_chars("TBclass", ["A_sp", "B_spp"]),
        compress=True,
    )
    assert parse_mat_v5(content)["TBclass"] == ["A_sp", "B_spp"]


def test_mat_class_scan_spark(spark):
    from ifcb_data_pipeline_spark.sources.binary_formats import mat_class_scan

    with tempfile.TemporaryDirectory() as d:
        for sample, classes in [
            ("D20240101T000000_IFCB1", ["Alpha", "Beta"]),
            ("D20240102T000000_IFCB1", ["Gamma"]),
        ]:
            with open(os.path.join(d, f"{sample}.mat"), "wb") as f:
                f.write(_mat_file(_mat_cell_of_chars("TBclass", classes)))
        rows = mat_class_scan(spark, d).orderBy("sample", "roi_number").collect()
    assert [(r.sample, r.roi_number, r.class_name) for r in rows] == [
        ("D20240101T000000_IFCB1", 1, "Alpha"),
        ("D20240101T000000_IFCB1", 2, "Beta"),
        ("D20240102T000000_IFCB1", 1, "Gamma"),
    ]


def test_h5_class_scan_injected_parser(spark):
    """The h5 scan's Spark plumbing (binaryFile glob → mapInPandas →
    typed rows) tested hermetically via the parser seam; payload is a
    trivial packed format standing in for the HDF5 container."""
    from ifcb_data_pipeline_spark.sources.binary_formats import h5_class_scan

    def fake_parser(content: bytes) -> dict:
        n = content[0]
        return {
            "output_scores": [[0.1 * (i + 1), 1.0 - 0.1 * (i + 1)] for i in range(n)],
            "roi_numbers": list(range(1, n + 1)),
            "class_name": ["low", "high"],
            "thresholds": [0.5, 0.5],
        }

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "D20240103T000000_IFCB1.h5"), "wb") as f:
            f.write(bytes([3]))
        out = h5_class_scan(spark, d, parser=fake_parser).orderBy("roi_number").collect()
    assert [r.roi_number for r in out] == [1, 2, 3]
    # argmax over scores: roi1 scores (0.1, 0.9) → 'high'; roi3 (0.3, 0.7) → 'high'
    assert [r.class_name for r in out] == ["high", "high", "high"]
    assert all(len(r.output_scores) == 2 for r in out)
    assert out[0].thresholds == [pytest.approx(0.5), pytest.approx(0.5)]


# --- S9/S12: driver-side HTTP sources (injected transport) ------------------


def test_http_csv_source_with_retry(spark):
    from ifcb_data_pipeline_spark.sources.http_source import http_csv_source

    calls, naps = [], []

    def flaky(url: str) -> bytes:
        calls.append(url)
        if len(calls) < 3:
            raise OSError("transient")
        return b"sample\tlat\nD20240101T000000_IFCB1\t57.5\nD20240102T000000_IFCB1\t57.6\n"

    df = http_csv_source(
        spark, "https://example.invalid/shark.tsv", transport=flaky, sep="\t",
        backoff_seconds=0.5, sleep=naps.append,
    )
    assert df.count() == 2 and set(df.columns) == {"sample", "lat"}
    assert len(calls) == 3
    assert naps == [0.5, 1.0]  # exponential backoff actually engaged


def test_http_json_source_and_exhausted_retries(spark):
    import pytest as _pytest

    from ifcb_data_pipeline_spark.sources.http_source import (
        http_json_source,
    )

    payload = {"bins": [{"pid": "D20240101T000000_IFCB1", "n_images": 40},
                        {"pid": "D20240102T000000_IFCB1", "n_images": 55}]}

    df = http_json_source(
        spark, "https://example.invalid/api/bins", record_path="bins",
        transport=lambda url: bytes(__import__("json").dumps(payload), "utf8"),
    )
    assert [r.pid for r in df.orderBy("pid").collect()] == [
        "D20240101T000000_IFCB1", "D20240102T000000_IFCB1",
    ]

    def always_down(url: str) -> bytes:
        raise OSError("down")

    with _pytest.raises(ConnectionError):
        http_json_source(
            spark, "https://example.invalid/api", transport=always_down,
            max_retries=3, sleep=lambda s: None,
        )


def test_hdf5_lite_roundtrip():
    """Pure-Python HDF5 subset reader against spec-built fixture bytes:
    int/float/2-D/fixed-string datasets come back value-exact."""
    import numpy as np

    from ifcb_data_pipeline_spark.sources.hdf5_lite import read_hdf5
    from tests.hdf5_fixture import write_hdf5

    rng = np.random.default_rng(7)
    scores = rng.random((5, 3)).astype("float32")
    data = {
        "output_scores": scores,
        "roi_numbers": np.arange(1, 6, dtype="int32"),
        "class_name": np.array([b"Mesodinium", b"Dinophysis", b"Tripos"], dtype="S10"),
        "thresholds": np.array([0.5, 0.6, 0.7], dtype="float64"),
    }
    buf = write_hdf5(data)
    assert buf[:8] == b"\x89HDF\r\n\x1a\n"
    out = read_hdf5(buf)
    assert set(out) == set(data)
    np.testing.assert_array_equal(out["output_scores"], scores)
    np.testing.assert_array_equal(out["roi_numbers"], data["roi_numbers"])
    np.testing.assert_array_equal(out["thresholds"], data["thresholds"])
    assert out["class_name"].tolist() == [b"Mesodinium", b"Dinophysis", b"Tripos"]


def test_hdf5_lite_rejects_out_of_subset():
    import numpy as np
    import pytest as _pytest

    from ifcb_data_pipeline_spark.sources.hdf5_lite import Hdf5LiteError, read_hdf5

    with _pytest.raises(Hdf5LiteError):
        read_hdf5(b"not an hdf5 file at all................")
    from tests.hdf5_fixture import write_hdf5

    # v2/v3 superblocks (libver='latest' writers) must fail with a guard
    # that names the version and points at the h5py parser seam — the
    # fallback boundary is explicit, not an incidental parse error.
    for version in (2, 3):
        buf = bytearray(write_hdf5({"x": np.arange(3, dtype="int32")}))
        buf[8] = version
        with _pytest.raises(Hdf5LiteError, match=rf"superblock v{version}.*h5py"):
            read_hdf5(bytes(buf))


def test_h5_class_scan_hermetic(spark, tmp_path):
    """S5 end-to-end with NO injected parser: binaryFile scan →
    mapInPandas → hdf5_lite decode (h5py absent in this container)."""
    import numpy as np

    from ifcb_data_pipeline_spark.sources.binary_formats import h5_class_scan
    from tests.hdf5_fixture import write_hdf5

    scores = np.array([[0.1, 0.8, 0.1], [0.6, 0.2, 0.2]], dtype="float32")
    buf = write_hdf5(
        {
            "output_scores": scores,
            "roi_numbers": np.array([1, 2], dtype="int32"),
            "class_name": np.array([b"Alpha", b"Beta", b"Gamma"], dtype="S5"),
            "thresholds": np.array([0.5, 0.5, 0.5], dtype="float32"),
        }
    )
    (tmp_path / "D20240105T000000_IFCB1.h5").write_bytes(buf)
    rows = h5_class_scan(spark, str(tmp_path)).orderBy("roi_number").collect()
    assert [r["roi_number"] for r in rows] == [1, 2]
    assert [r["class_name"] for r in rows] == ["Beta", "Alpha"]  # argmax per row
    assert rows[0]["sample"] == "D20240105T000000_IFCB1"
    assert rows[0]["output_scores"] == list(map(np.float32, [0.1, 0.8, 0.1]))


def test_hdf5_lite_chunked_deflate_roundtrip():
    """Chunked + gzip datasets (the layout real CNN score writers emit,
    convert_h5_to_irfcb_format.R:48-65) come back byte-exact, including
    zero-padded edge chunks clipped to the dataspace and mixed
    chunked/contiguous files."""
    import numpy as np

    from ifcb_data_pipeline_spark.sources.hdf5_lite import read_hdf5
    from tests.hdf5_fixture import write_hdf5

    rng = np.random.default_rng(11)
    scores = rng.random((37, 5)).astype("float32")  # 37 rows: ragged edge
    rois = np.arange(1, 38, dtype="int32")
    data = {
        "output_scores": scores,
        "roi_numbers": rois,
        "thresholds": np.array([0.5, 0.6, 0.7, 0.8, 0.9], dtype="float64"),
    }
    buf = write_hdf5(
        data, chunks={"output_scores": (16, 5), "roi_numbers": (10,)}
    )
    out = read_hdf5(buf)
    assert set(out) == set(data)
    np.testing.assert_array_equal(out["output_scores"], scores)
    assert out["output_scores"].dtype == np.float32
    np.testing.assert_array_equal(out["roi_numbers"], rois)
    np.testing.assert_array_equal(out["thresholds"], data["thresholds"])


def test_hdf5_lite_rejects_non_deflate_filter():
    import numpy as np
    import pytest as _pytest

    from ifcb_data_pipeline_spark.sources.hdf5_lite import Hdf5LiteError, read_hdf5
    from tests.hdf5_fixture import write_hdf5

    buf = bytearray(write_hdf5({"x": np.arange(64, dtype="int32")}, chunks={"x": (16,)}))
    # flip the pipeline's filter id (deflate=1) to shuffle (=2)
    idx = buf.index(bytes([1, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 1, 0]))
    buf[idx + 8] = 2
    with _pytest.raises(Hdf5LiteError):
        read_hdf5(bytes(buf))


def test_h5_class_scan_chunked(spark, tmp_path):
    """S5 end-to-end over a chunked+deflate score file — the production
    layout — with no injected parser."""
    import numpy as np

    from ifcb_data_pipeline_spark.sources.binary_formats import h5_class_scan
    from tests.hdf5_fixture import write_hdf5

    scores = np.array([[0.1, 0.8, 0.1], [0.6, 0.2, 0.2], [0.2, 0.3, 0.5]], dtype="float32")
    buf = write_hdf5(
        {
            "output_scores": scores,
            "roi_numbers": np.array([1, 2, 3], dtype="int32"),
            "class_name": np.array([b"Alpha", b"Beta", b"Gamma"], dtype="S5"),
            "thresholds": np.array([0.5, 0.5, 0.5], dtype="float32"),
        },
        chunks={"output_scores": (2, 3), "roi_numbers": (2,)},
    )
    (tmp_path / "D20240106T000000_IFCB1.h5").write_bytes(buf)
    rows = h5_class_scan(spark, str(tmp_path)).orderBy("roi_number").collect()
    assert [r["roi_number"] for r in rows] == [1, 2, 3]
    assert [r["class_name"] for r in rows] == ["Beta", "Alpha", "Gamma"]


# --- S5 randomized round-trip (hypothesis) ----------------------------------
from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=40, deadline=None)
@given(
    hst.lists(
        hst.tuples(
            hst.sampled_from(["f4", "f8", "i4", "i8", "u1"]),
            hst.integers(min_value=1, max_value=13),   # rows
            hst.integers(min_value=1, max_value=7),    # cols
        ),
        min_size=1,
        max_size=4,
    ),
    hst.randoms(use_true_random=False),
)
def test_hdf5_roundtrip_random_datasets(specs, rnd):
    """write_hdf5 (spec-built fixture) -> hdf5_lite.read_hdf5 is the
    identity for arbitrary dataset mixes: random dtypes/shapes, a random
    subset written chunked+deflate with random chunk shapes (exercising
    edge-chunk clipping when the chunk does not divide the shape)."""
    import numpy as np

    from ifcb_data_pipeline_spark.sources.hdf5_lite import read_hdf5
    from tests.hdf5_fixture import write_hdf5

    datasets, chunks = {}, {}
    for i, (dt, r, c) in enumerate(specs):
        name = f"ds{i}"
        a = np.arange(r * c, dtype=np.dtype(dt)).reshape(r, c)
        a = (a * (i + 3) % 251).astype(np.dtype(dt))
        datasets[name] = a
        if rnd.random() < 0.5:
            chunks[name] = (rnd.randint(1, r), rnd.randint(1, c))
    buf = write_hdf5(datasets, chunks=chunks or None)
    out = read_hdf5(buf)
    assert set(out) == set(datasets)
    for name, a in datasets.items():
        assert out[name].dtype == a.dtype and out[name].shape == a.shape
        assert (out[name] == a).all(), name


@settings(max_examples=40, deadline=None)
@given(
    hst.lists(
        hst.text(
            alphabet=hst.sampled_from(
                "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_0123456789"
            ),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=8,
    ),
    hst.lists(
        hst.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=12,
    ),
    hst.booleans(),
)
def test_parse_mat_v5_random_roundtrip(class_names, scores, compress):
    """Spec-built MAT v5 writer -> parse_mat_v5 identity over random
    class-name cell arrays, random double matrices, and both the plain
    and zlib-compressed element layouts (S4)."""
    from ifcb_data_pipeline_spark.sources.mat_v5 import parse_mat_v5

    content = _mat_file(
        _mat_cell_of_chars("TBclass", class_names),
        _mat_double_matrix("TBscores", scores),
        _mat_char_matrix("classifierName", "rand_v1"),
        compress=compress,
    )
    out = parse_mat_v5(content)
    assert out["TBclass"] == class_names
    assert out["classifierName"] == "rand_v1"
    got = np.asarray(out["TBscores"]).ravel().tolist()
    assert got == scores
