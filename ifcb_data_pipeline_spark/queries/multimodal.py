"""Multimodal + streaming registry queries.

mm1 runs the real binary-column plumbing (mapInPandas bin→ROI expansion →
Arrow-batched feature kernel → rollup); because the stub payload is
deterministic, the *entire* Python-UDF path is verifiable against a pure
SQL oracle — the strongest check available for UDF plumbing.

st1–st8 each run an actual Structured Streaming job over the events
parquet, drained once with an availableNow trigger into a memory sink,
and return that sink's table.  There is no batch copy of any of them: a
stream that fails or stalls raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import explode_bins_to_rois, extract_features
from ..streaming.incremental import drain
from . import register
from ._util import HASH32_SQL, dround, dround_sql, hash32, streams, tables


def _drain_to_memory(stream_df: DataFrame, mode: str, name: str) -> DataFrame:
    """Drain ``stream_df`` into the memory sink ``name`` (see
    :func:`~ifcb_data_pipeline_spark.streaming.incremental.drain`, which
    raises on a failed or stalled stream) and return the sink's table.

    State-partition clamp (round 18 profile work): stateful operators
    materialize one state store PER shuffle partition PER stateful op —
    a one-shot availableNow drain of a single file at 32 partitions is
    store-setup-dominated (st4's two-sided interval join: ~5.1 s at 32,
    ~2.2 s at 8, measured sf0.1).  The drain runs under
    min(session, 8) shuffle partitions, restored in finally; min()
    keeps hostile low-partition sweep legs meaningful, and the result
    is a set either way.  Each call uses a fresh sink/checkpoint, so no
    checkpoint ever pins the clamped count.  At production scale the
    trigger is a long-lived stream on a real cluster where the session
    partition count is sized to the executor fleet — the clamp is a
    local-drain optimization, not a scale policy.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(prev), 8)))
    try:
        drain(stream_df.writeStream.format("memory").outputMode(mode).queryName(name))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


# --- MM1: bin → ROI → features through mapInPandas -------------------------
# Fake-ROI math (must mirror operators/multimodal.py):
#   w = 8 + roi % 16; h = 8 + (roi*3) % 16; area = w*h*0.7
#   equiv_d = sqrt(4*area/pi); biovolume = area*equiv_d*0.5
MM1_SQL = """
WITH bins AS (
    SELECT o_orderkey::VARCHAR AS sample, ((o_orderkey % 50) + 1)::INT AS n_rois
    FROM orders WHERE o_orderkey % 100 = 0
),
rois AS (
    SELECT sample, t.roi::INT AS roi_number,
           (8 + t.roi % 16)::DOUBLE AS w,
           (8 + (t.roi * 3) % 16)::DOUBLE AS h
    FROM bins, unnest(range(1, n_rois + 1)) AS t(roi)
),
feats AS (
    SELECT sample, roi_number,
           w * h * 0.7 AS area,
           sqrt(4.0 * w * h * 0.7 / pi()) AS equiv_d,
           (w * h)::INT AS n_bytes,
           2.0 * (w + h) AS perimeter
    FROM rois
)
SELECT sample,
       count(*)::BIGINT AS n_rois,
       floor(sum(area) * 10000.0 + 0.5) / 10000.0 AS total_area,
       floor(sum(area * equiv_d * 0.5) * 10000.0 + 0.5) / 10000.0 AS total_biovolume,
       sum(n_bytes)::BIGINT AS total_bytes,
       floor(max(perimeter) * 10000.0 + 0.5) / 10000.0 AS max_perimeter
FROM feats GROUP BY sample
"""


@register("mm1_multimodal_features", MM1_SQL, survey_ref="SURVEY §2.1 S2 + §2.9 U-kernels (real PGM decode)")
def mm1_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    bins = orders.where(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").cast("string").alias("sample"),
        ((F.col("o_orderkey") % 50) + 1).cast("int").alias("n_rois"),
    )
    rois = explode_bins_to_rois(bins)
    feats = extract_features(rois)
    return feats.groupBy("sample").agg(
        F.count(F.lit(1)).alias("n_rois"),
        dround(F.sum("Area"), 4).alias("total_area"),
        dround(F.sum("Biovolume"), 4).alias("total_biovolume"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        dround(F.max("Perimeter"), 4).alias("max_perimeter"),
    )


# --- ST1: Structured Streaming windowed aggregation ------------------------
ST1_SQL = """
SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start,
       event_type,
       count(*)::BIGINT AS n
FROM events
GROUP BY 1, 2
"""


@register("st1_stream_windowed_counts", ST1_SQL, survey_ref="SURVEY §2.10; Structured Streaming tumbling window")
def st1_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (stream,) = streams(spark, sf_dir, "events")
    windowed = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain_to_memory(windowed, "complete", "st1_windowed")


# --- MM2: the full real kernel chain over analytic shapes (hash gate) ------
# U1 phase-congruency segmentation → U2/U3 geometry → U4 Benkrid
# perimeter → U5 shape-adaptive biovolume (U11 rotation inside the SoR
# branch) → U6/U7/U8 → U9 HOG → U10 ring/wedge → U12 summed features, in
# pure numpy over real PGM-decoded ROI bytes.
#
# Driver-checkable oracle (VERDICT r3 item 2): the inputs are a FIXED
# panel of analytically-known shapes (disks, rectangles, ellipses, an L)
# rendered dark-on-light — the contrast convention segment_roi_pc
# recovers (reference segmentation.py:157-186).  The whole chain is
# deterministic numpy over these fixed bytes, so the expected (rounded)
# outputs are a DuckDB VALUES literal.  The literal is pinned to the
# closed-form geometry two ways: tests/test_kernels.py derives each
# kernel's behavior analytically, and tests/test_multimodal_panel.py
# asserts the panel rows stay within analytic tolerance of pi*r^2 /
# w*h areas, sphere/cylinder biovolumes and zero eccentricity — so a
# kernel regression breaks both the pytest and this hash gate.

# (sample, kind, p1, p2): disk p1=radius; rect p1×p2; ellipse semi-axes
# p1/p2; lshape arm length p1, thickness p2.  Chosen so both U5
# branches fire (sor + distmap) and segmentation quality spans
# IoU 0.5 (thin ribbon) to 1.0 (square).
MM2_PANEL: list[tuple[str, str, int, int]] = [
    ("disk_r6", "disk", 6, 0),
    ("disk_r9", "disk", 9, 0),
    ("disk_r12", "disk", 12, 0),
    ("disk_r15", "disk", 15, 0),
    ("rect_12x5", "rect", 12, 5),
    ("rect_18x7", "rect", 18, 7),
    ("rect_10x10", "rect", 10, 10),
    ("rect_24x9", "rect", 24, 9),
    ("ribbon_30x4", "rect", 30, 4),
    ("ellipse_14x6", "ellipse", 14, 6),
    ("ellipse_18x8", "ellipse", 18, 8),
    ("lshape_20x8", "lshape", 20, 8),
]


def panel_mask(kind: str, p1: int, p2: int, pad: int = 8):
    """Boolean mask of an analytic shape, padded by ``pad`` background px."""
    import numpy as np

    if kind == "disk":
        r = p1
        n = 2 * r + 2 * pad + 1
        yy, xx = np.mgrid[:n, :n]
        c = n // 2
        return (xx - c) ** 2 + (yy - c) ** 2 <= r * r
    if kind == "rect":
        w, h = p1, p2
        m = np.zeros((h + 2 * pad, w + 2 * pad), dtype=bool)
        m[pad : pad + h, pad : pad + w] = True
        return m
    if kind == "ellipse":
        a, b = p1, p2
        ny, nx = 2 * b + 2 * pad + 1, 2 * a + 2 * pad + 1
        yy, xx = np.mgrid[:ny, :nx]
        cy, cx = ny // 2, nx // 2
        return ((xx - cx) / a) ** 2 + ((yy - cy) / b) ** 2 <= 1.0
    if kind == "lshape":
        w, t = p1, p2
        m = np.zeros((w + 2 * pad, w + 2 * pad), dtype=bool)
        m[pad : pad + w, pad : pad + t] = True
        m[pad + w - t : pad + w, pad : pad + w] = True
        return m
    # mm2b extension kinds — topologies the original panel never hits:
    if kind == "annulus":  # interior hole: inner boundary in U4's perimeter image
        ro, ri = p1, p2
        n = 2 * ro + 2 * pad + 1
        yy, xx = np.mgrid[:n, :n]
        c = n // 2
        d2 = (xx - c) ** 2 + (yy - c) ** 2
        return (d2 <= ro * ro) & (d2 > ri * ri)
    if kind == "pair":  # two disjoint blobs: summedArea > Area, numBlobs=2
        r, gap = p1, p2
        ny = 2 * r + 2 * pad + 1
        nx = 4 * r + gap + 2 * pad + 1
        yy, xx = np.mgrid[:ny, :nx]
        cy = ny // 2
        c1, c2 = pad + r, pad + 3 * r + gap
        return ((xx - c1) ** 2 + (yy - cy) ** 2 <= r * r) | (
            (xx - c2) ** 2 + (yy - cy) ** 2 <= r * r
        )
    if kind == "plus":  # non-convex, 4-fold symmetric: Solidity well below 1
        ln, t = p1, p2
        n = ln + 2 * pad
        m = np.zeros((n, n), dtype=bool)
        lo = pad + (ln - t) // 2
        m[lo : lo + t, pad : pad + ln] = True
        m[pad : pad + ln, lo : lo + t] = True
        return m
    if kind == "frame":  # square ring: hole + thin walls at once
        w, t = p1, p2
        n = w + 2 * pad
        m = np.zeros((n, n), dtype=bool)
        m[pad : pad + w, pad : pad + w] = True
        m[pad + t : pad + w - t, pad + t : pad + w - t] = False
        return m
    raise ValueError(kind)


def panel_rois(spark: SparkSession, panel: list | None = None) -> DataFrame:
    """An analytic-shape panel as a ROI frame (sample, roi_number,
    PGM image bytes, width, height) — sf-independent by design so the
    baked oracles hold at every scale factor.  Defaults to MM2_PANEL;
    mm2b passes its extension panel."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import ROI_SCHEMA

    panel = MM2_PANEL if panel is None else panel
    spec = spark.createDataFrame(
        [(s, i + 1, k, p1, p2) for i, (s, k, p1, p2) in enumerate(panel)],
        "sample string, roi_number int, kind string, p1 int, p2 int",
    ).repartition(len(panel))  # one shape per task: the chain is CPU-bound

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..operators.image_codec import encode_pgm

        for pdf in batches:
            out = {"sample": [], "roi_number": [], "image": [], "width": [], "height": []}
            for s, roi, kind, p1, p2 in zip(
                pdf["sample"], pdf["roi_number"], pdf["kind"], pdf["p1"], pdf["p2"]
            ):
                m = panel_mask(str(kind), int(p1), int(p2))
                img = np.full(m.shape, 215, dtype=np.uint8)  # light background
                img[m] = 45  # dark organism
                out["sample"].append(str(s))
                out["roi_number"].append(int(roi))
                out["image"].append(encode_pgm(img))
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
            yield pd.DataFrame(out)

    return spec.mapInPandas(synth, schema=ROI_SCHEMA)


# Baked from the deterministic chain over MM2_PANEL (two consecutive
# runs bit-identical; regenerate with tools/bake_multimodal_oracles.py
# if a kernel legitimately changes — round 16: the geometry chain moved
# to the compute_features-faithful estimator forms
# (tests/test_golden_chain_parity.py); round 17: the remaining families
# moved too — reference-exact segmentation (MATLAB-LUT thinning, strict
# k-means, 8-connected linking), contrast-enhanced 0..255 texture, and
# rotated-blob binary-overlap symmetry, all reference-certified in
# tests/test_golden_family_parity.py).  Analytic anchors: disk_r12
# Area 450 vs pi*12^2=452.4 (within 0.6%), Biovolume 7123.8 vs sphere
# 4/3*pi*12^3=7238.2 (1.6%), Eccentricity→0 on disks; rect_10x10 is
# NEARLY segmentation-exact — the reference's exact thinning leaves a
# few 1-px edge spurs, so Area=104 > the true 100 and Solidity drops
# below 1 (see test_square_is_nearly_segmentation_exact); symmetry_b180
# is now an overlap RATIO (≈1 on symmetric shapes).  The
# tolerance-based versions of these assertions live in
# tests/test_multimodal_panel.py.
MM2_SQL = """
SELECT sample, roi_number::INT AS roi_number, Area::DOUBLE AS Area,
       Perimeter::DOUBLE AS Perimeter, Eccentricity::DOUBLE AS Eccentricity,
       Solidity::DOUBLE AS Solidity, texture_entropy::DOUBLE AS texture_entropy,
       Biovolume::DOUBLE AS Biovolume, BiovolumeBranch,
       summedArea::DOUBLE AS summedArea, symmetry_b180::DOUBLE AS symmetry_b180,
       n_phi::INT AS n_phi, n_hog::INT AS n_hog, n_ringwedge::INT AS n_ringwedge
FROM (VALUES
    ('disk_r12', 3, 446.0, 75.598, 0.092, 0.9741, 0.1165, 6999.2066, 'sor', 446.0, 0.9436, 7, 81, 99),
    ('disk_r15', 4, 697.0, 99.7401, 0.1001, 0.9619, 0.04, 13559.6375, 'sor', 697.0, 0.9768, 7, 81, 99),
    ('disk_r6', 1, 144.0, 45.799, 0.171, 0.9096, 0.7515, 1288.3148, 'sor', 144.0, 0.8611, 7, 81, 99),
    ('disk_r9', 2, 273.0, 60.2843, 0.2313, 0.9502, 0.378, 3288.7239, 'sor', 273.0, 0.9628, 7, 81, 99),
    ('ellipse_14x6', 10, 227.0, 70.6274, 0.9434, 0.9216, 0.2606, 1467.9092, 'sor', 227.0, 0.8634, 7, 81, 99),
    ('ellipse_18x8', 11, 420.0, 88.5269, 0.9219, 0.9474, 0.1623, 4013.9082, 'sor', 420.0, 0.9405, 7, 81, 99),
    ('lshape_20x8', 12, 236.0, 85.0711, 0.8398, 0.615, 0.6565, 1105.675, 'distmap', 236.0, 0.3252, 7, 81, 99),
    ('rect_10x10', 7, 104.0, 36.0, 0.0, 0.7273, 0.2352, 804.2477, 'sor', 104.0, 0.7981, 7, 81, 99),
    ('rect_12x5', 5, 84.0, 50.9706, 0.9319, 0.5874, 0.9984, 260.0524, 'distmap', 84.0, 0.8214, 7, 81, 99),
    ('rect_18x7', 6, 108.0, 51.6569, 0.9652, 0.777, 0.5564, 395.929, 'distmap', 108.0, 0.9167, 7, 81, 99),
    ('rect_24x9', 8, 168.0, 58.0, 0.9574, 1.006, 0.0, 923.6282, 'sor', 168.0, 0.9583, 7, 81, 99),
    ('ribbon_30x4', 9, 64.0, 60.0, 0.9978, 0.5039, 0.3373, 94.6174, 'distmap', 64.0, 0.4844, 7, 81, 99)
) AS t(sample, roi_number, Area, Perimeter, Eccentricity, Solidity, texture_entropy, Biovolume, BiovolumeBranch, summedArea, symmetry_b180, n_phi, n_hog, n_ringwedge)
"""


@register("mm2_real_kernel_features", MM2_SQL, survey_ref="SURVEY §2.9 U1-U12 (numpy kernel chain)")
def mm2_real_kernel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kernels import features_from_images

    # Full U1-U12 chain at the RINGWEDGE_SIZE=65 profiling canvas —
    # oracle baked at the same 65; production parity needs 301 (see the
    # kernels.RINGWEDGE_SIZE PARITY NOTE / ADVICE r17).
    feats = features_from_images(panel_rois(spark))
    return feats.select(
        "sample",
        "roi_number",
        dround(F.col("Area"), 4).alias("Area"),
        dround(F.col("Perimeter"), 4).alias("Perimeter"),
        dround(F.col("Eccentricity"), 4).alias("Eccentricity"),
        dround(F.col("Solidity"), 4).alias("Solidity"),
        dround(F.col("texture_entropy"), 4).alias("texture_entropy"),
        dround(F.col("Biovolume"), 4).alias("Biovolume"),
        "BiovolumeBranch",
        dround(F.col("summedArea"), 4).alias("summedArea"),
        dround(F.col("symmetry_b180"), 4).alias("symmetry_b180"),
        F.size("moment_invariants").alias("n_phi"),
        F.size("hog").alias("n_hog"),
        F.size("ringwedge").alias("n_ringwedge"),
    )


# --- MM2B: kernel chain over topology-extension shapes (hash gate) ---------
# Widens the driver-exercised kernel surface beyond MM2_PANEL (VERDICT
# r4 item 8) with topologies the original panel never produces:
# annuli and square frames (input holes — the segmentation's fill step
# resolves them deterministically), disjoint disk pairs (two segmented
# blobs: numBlobs=2, exercises the multi-blob labeling of the U12
# summed family in roi_features_ref and is exported so the oracle
# checks it), and
# plus-shapes (non-convex: Solidity 0.38-0.67, and both U5 branches
# fire across the panel — plus_30x6 takes distmap, the rest SoR after
# the round-17 reference-exact segmentation shifted the pair blobs'
# area ratios under 1.2).
# Baked exactly like MM2_SQL: two consecutive chain runs bit-identical;
# tests/test_multimodal_panel.py re-derives every float column live.
MM2B_PANEL: list[tuple[str, str, int, int]] = [
    ("annulus_r15x8", "annulus", 15, 8),
    ("annulus_r12x4", "annulus", 12, 4),
    ("pair_r7g12", "pair", 7, 12),
    ("pair_r10g16", "pair", 10, 16),
    ("plus_24x8", "plus", 24, 8),
    ("plus_30x6", "plus", 30, 6),
    ("frame_20x5", "frame", 20, 5),
    ("frame_26x7", "frame", 26, 7),
]

MM2B_SQL = """
SELECT sample, roi_number::INT AS roi_number, Area::DOUBLE AS Area,
       Perimeter::DOUBLE AS Perimeter, Eccentricity::DOUBLE AS Eccentricity,
       Solidity::DOUBLE AS Solidity, texture_entropy::DOUBLE AS texture_entropy,
       Biovolume::DOUBLE AS Biovolume, BiovolumeBranch,
       summedArea::DOUBLE AS summedArea, symmetry_b180::DOUBLE AS symmetry_b180,
       numBlobs::INT AS numBlobs,
       n_phi::INT AS n_phi, n_hog::INT AS n_hog, n_ringwedge::INT AS n_ringwedge
FROM (VALUES
    ('annulus_r12x4', 2, 432.0, 74.4264, 0.0698, 0.9724, 0.55, 6728.5061, 'sor', 432.0, 0.9491, 1, 7, 81, 99),
    ('annulus_r15x8', 1, 625.0, 93.2548, 0.0, 0.9587, 0.8991, 11810.5558, 'sor', 625.0, 0.9344, 1, 7, 81, 99),
    ('frame_20x5', 7, 324.0, 68.0, 0.0, 1.0031, 0.8916, 4580.4421, 'sor', 324.0, 0.892, 1, 7, 81, 99),
    ('frame_26x7', 8, 576.0, 92.0, 0.0, 1.0017, 0.8113, 10857.3442, 'sor', 576.0, 0.9184, 1, 7, 81, 99),
    ('pair_r10g16', 4, 330.0, 65.2132, 0.2584, 0.9803, 0.2545, 4468.6538, 'sor', 656.0, 0.9606, 2, 7, 81, 99),
    ('pair_r7g12', 3, 195.0, 51.1127, 0.578, 0.9523, 0.7882, 1852.7543, 'sor', 390.0, 0.8718, 2, 7, 81, 99),
    ('plus_24x8', 5, 270.0, 83.799, 0.0189, 0.6709, 0.0631, 3401.2976, 'sor', 270.0, 0.9778, 1, 7, 81, 99),
    ('plus_30x6', 6, 258.0, 119.8701, 0.209, 0.3838, 0.4205, 976.7169, 'distmap', 258.0, 0.9922, 1, 7, 81, 99)
) AS t(sample, roi_number, Area, Perimeter, Eccentricity, Solidity, texture_entropy, Biovolume, BiovolumeBranch, summedArea, symmetry_b180, numBlobs, n_phi, n_hog, n_ringwedge)
"""


@register("mm2b_kernel_topologies", MM2B_SQL, survey_ref="SURVEY §2.9 U1-U12; topology-extension panel (holes, multi-blob, non-convex)")
def mm2b_kernel_topologies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kernels import features_from_images

    # RINGWEDGE_SIZE=65 profiling canvas, oracle baked to match (parity=301).
    feats = features_from_images(panel_rois(spark, MM2B_PANEL))
    return feats.select(
        "sample",
        "roi_number",
        dround(F.col("Area"), 4).alias("Area"),
        dround(F.col("Perimeter"), 4).alias("Perimeter"),
        dround(F.col("Eccentricity"), 4).alias("Eccentricity"),
        dround(F.col("Solidity"), 4).alias("Solidity"),
        dround(F.col("texture_entropy"), 4).alias("texture_entropy"),
        dround(F.col("Biovolume"), 4).alias("Biovolume"),
        "BiovolumeBranch",
        dround(F.col("summedArea"), 4).alias("summedArea"),
        dround(F.col("symmetry_b180"), 4).alias("symmetry_b180"),
        F.col("numBlobs").cast("int").alias("numBlobs"),
        F.size("moment_invariants").alias("n_phi"),
        F.size("hog").alias("n_hog"),
        F.size("ringwedge").alias("n_ringwedge"),
    )


# --- MM3: image resize normalization (oracle-checked) ----------------------
# The resize step of a vision-model ingest, verified value-level: the
# deterministic PGM payloads make nearest-neighbor resize closed-form
# (pixel (y,x) of roi r = (r*31 + sy*w + sx) % 251 with the floor
# src-index mapping), so the mean resized intensity has an exact SQL
# twin — the strongest check available for an image UDF path.
MM3_SQL = """
WITH bins AS (
    SELECT o_orderkey::VARCHAR AS sample, ((o_orderkey % 50) + 1)::INT AS n_rois
    FROM orders WHERE o_orderkey % 200 = 0
),
rois AS (
    SELECT sample, t.roi::INT AS roi,
           (8 + t.roi % 16)::BIGINT AS w,
           (8 + (t.roi * 3) % 16)::BIGINT AS h
    FROM bins, unnest(range(1, n_rois + 1)) AS t(roi)
),
px AS (
    SELECT sample, roi, w, h,
           ((roi * 31 + ((y * h) // 16) * w + ((x * w) // 16)) % 251) AS v
    FROM rois, unnest(range(16)) AS yy(y), unnest(range(16)) AS xx(x)
)
SELECT sample, roi AS roi_number, 16 AS out_w, 16 AS out_h,
       floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS mean_px
FROM px GROUP BY sample, roi, w, h
"""


@register("mm3_resize_normalize", MM3_SQL, survey_ref="north-star multimodal: batch resize normalization")
def mm3_resize_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    bins = orders.where(F.col("o_orderkey") % 200 == 0).select(
        F.col("o_orderkey").cast("string").alias("sample"),
        ((F.col("o_orderkey") % 50) + 1).cast("int").alias("n_rois"),
    )
    rois = explode_bins_to_rois(bins)

    import pandas as pd
    from collections.abc import Iterator

    # resize + mean FUSED into one mapInPandas (guide §4: a separate
    # resize stage would be a JVM↔Python round trip plus a PGM
    # re-encode/re-decode whose only purpose is carrying pixels to this
    # stage; see mm8 for the measured full-width worker-stampede cost of
    # a 3-node chain).  PGM is lossless and resize_nearest
    # deterministic, so decode→resize→mean in one pass gives the values
    # a staged chain would.
    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..operators.image_codec import resize_nearest
        from ..operators.multimodal import decode_image

        for pdf in batches:
            means = [
                float(resize_nearest(decode_image(bytes(b), w, h), 16, 16).mean())
                for b, w, h in zip(pdf["image"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "sample": pdf["sample"],
                    "roi_number": pdf["roi_number"],
                    "out_w": pd.Series([16] * len(pdf), dtype="int32"),
                    "out_h": pd.Series([16] * len(pdf), dtype="int32"),
                    "mean_px": means,
                }
            )

    out = rois.mapInPandas(
        stats,
        schema="sample string, roi_number int, out_w int, out_h int, mean_px double",
    )
    return out.select(
        "sample", "roi_number", "out_w", "out_h", dround(F.col("mean_px"), 6).alias("mean_px")
    )


# --- MM4: video frame sampling (oracle-checked) ----------------------------
# Frame-sample plumbing over raw frame-slab "videos" (deterministic
# payload: frame f pixel i of video v = (v*7 + f*13 + i) % 251), every
# 4th frame, mean intensity per sampled frame — closed-form SQL twin.
MM4_SQL = """
WITH vids AS (
    SELECT o_orderkey AS v, ((o_orderkey % 24) + 4)::INT AS n_frames
    FROM orders WHERE o_orderkey % 500 = 0
),
frames AS (
    SELECT v, n_frames, f.f::INT AS frame_idx
    FROM vids, unnest(range(0, n_frames, 4)) AS f(f)
),
px AS (
    SELECT v, frame_idx, ((v * 7 + frame_idx * 13 + i) % 251) AS val
    FROM frames, unnest(range(144)) AS ii(i)
)
SELECT v::VARCHAR AS video_id, frame_idx, 12 AS w, 12 AS h,
       floor(avg(val) * 1000000.0 + 0.5) / 1000000.0 AS mean_px
FROM px GROUP BY v, frame_idx
"""


@register("mm4_video_frame_sample", MM4_SQL, survey_ref="north-star multimodal: video frame sampling")
def mm4_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import (
        VIDEO_SCHEMA,
        decode_image,
        sample_video_frames,
    )

    (orders,) = tables(spark, sf_dir, "orders")
    meta = orders.where(F.col("o_orderkey") % 500 == 0).select(
        F.col("o_orderkey").alias("v"),
        ((F.col("o_orderkey") % 24) + 4).cast("int").alias("n_frames"),
    )

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {"video_id": [], "n_frames": [], "width": [], "height": [], "payload": []}
            for v, n in zip(pdf["v"], pdf["n_frames"]):
                i = np.arange(int(n) * 144, dtype=np.int64)
                f = i // 144
                slab = ((int(v) * 7 + f * 13 + (i % 144)) % 251).astype(np.uint8)
                rows["video_id"].append(str(v))
                rows["n_frames"].append(int(n))
                rows["width"].append(12)
                rows["height"].append(12)
                rows["payload"].append(slab.tobytes())
            yield pd.DataFrame(rows)

    videos = meta.mapInPandas(synthesize, schema=VIDEO_SCHEMA)
    frames = sample_video_frames(videos, every_k=4)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means = [
                float(decode_image(bytes(b), w, h).mean())
                for b, w, h in zip(pdf["image"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "video_id": pdf["video_id"],
                    "frame_idx": pdf["frame_idx"],
                    "w": pdf["width"].astype("int32"),
                    "h": pdf["height"].astype("int32"),
                    "mean_px": means,
                }
            )

    out = frames.mapInPandas(
        stats, schema="video_id string, frame_idx int, w int, h int, mean_px double"
    )
    return out.select(
        "video_id", "frame_idx", "w", "h", dround(F.col("mean_px"), 6).alias("mean_px")
    )


# --- ST2: custom stateful streaming via applyInPandasWithState -------------
# SURVEY §2.10: the brief's "custom stateful operator" path.  Per-user
# running counters kept in GroupState; the counter is MONOTONE, so even
# if the file source splits into several micro-batches (each emitting an
# update row), the final state per key is the row with the max count —
# deterministic, hence SQL-oracle-checkable.
ST2_SQL = """
WITH ranked AS (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn,
           count(*) OVER (PARTITION BY user_id) AS n_events,
           sum(value) OVER (PARTITION BY user_id) AS value_sum
    FROM events
)
SELECT user_id, n_events::BIGINT AS n_events,
       floor(value_sum * 10000.0 + 0.5) / 10000.0 AS value_sum,
       event_type AS last_event_type
FROM ranked WHERE rn = 1
"""


@register("st2_stateful_user_counts", ST2_SQL, survey_ref="SURVEY §2.10; applyInPandasWithState custom stateful op")
def st2_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, value_sum double, last_event_type string"
    )
    state_schema = (
        "n bigint, vsum double, last_ts bigint, last_id bigint, last_type string"
    )

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, vsum, last_ts, last_id, last_type = state.get
        else:
            n, vsum, last_ts, last_id, last_type = 0, 0.0, -1, -1, None
        for pdf in pdfs:
            n += len(pdf)
            vsum += float(pdf["value"].sum())
            top = pdf.sort_values(["ts", "event_id"]).iloc[-1]
            if (int(top["ts"]), int(top["event_id"])) > (last_ts, last_id):
                last_ts, last_id = int(top["ts"]), int(top["event_id"])
                last_type = str(top["event_type"])
        state.update((n, vsum, last_ts, last_id, last_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [vsum],
                "last_event_type": [last_type],
            }
        )

    stream = (
        spark.readStream.format("parquet")
        .schema(
            "event_id bigint, ts bigint, user_id bigint, event_type string,"
            " value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = _drain_to_memory(updates, "update", "st2_stateful")
    # final state per key = max n_events (monotone counter)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            dround(F.col("value_sum"), 4).alias("value_sum"),
            "last_event_type",
        )
    )


# --- ST3: watermarked append-mode windows (late-data semantics) ------------
# The brief's "watermarks + windowed aggs for late data": 10-minute
# tumbling windows, 30-minute watermark, APPEND output — only finalized
# windows (window_end <= max event time - 30 min) are emitted.  With the
# availableNow drain the final watermark is deterministic, so the
# emitted set has an exact SQL twin.  (Event times carry microsecond
# precision, so the watermark never lands exactly on a window boundary.)
ST3_SQL = """
WITH w AS (
    SELECT time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP) AS window_start,
           event_type, count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n FROM w
WHERE window_start + INTERVAL '10 minutes'
      <= (SELECT max(ts::TIMESTAMP) - INTERVAL '30 minutes' FROM events)
"""


@register("st3_watermarked_append", ST3_SQL, survey_ref="SURVEY §2.10; watermark + append-mode finalized windows")
def st3_watermarked_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    (stream,) = streams(spark, sf_dir, "events")
    windowed = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain_to_memory(windowed, "append", "st3_watermarked")


# --- ST4: stream-stream interval join (click → purchase attribution) -------
# The remaining Structured Streaming pattern of SURVEY §2.10's brief:
# two watermarked streams inner-joined on an equi key plus an event-time
# range (purchase within 2 h after the click).  Both sides carry 1-hour
# watermarks so the join state is bounded by watermark + range — the
# 100 TB contract (state ~ |2 h of keys|, not the stream history).  The
# availableNow drain over the single events file is one micro-batch, so
# the inner-join output is complete and deterministic — hence the exact
# SQL twin.
ST4_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       date_diff('second', c.ts::TIMESTAMP, p.ts::TIMESTAMP)::BIGINT
           AS lag_seconds
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '2 hours'
"""


@register("st4_stream_stream_join", ST4_SQL, survey_ref="SURVEY §2.10; watermarked stream-stream interval join")
def st4_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    click_src, purchase_src = streams(spark, sf_dir, "events", "events")
    clicks = (
        click_src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        purchase_src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id"
            " AND purchase_ts > click_ts"
            " AND purchase_ts <= click_ts + INTERVAL 2 hours"
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("lag_seconds"),
    )
    return _drain_to_memory(joined, "append", "st4_attribution")


# --- ST5: streaming dedup via dropDuplicatesWithinWatermark ----------------
# Bridges the dedup family into Structured Streaming: an at-least-once
# upstream (simulated by unioning two identical streams of the events
# file, so every event arrives exactly twice) deduped on event_id with
# bounded state — dropDuplicatesWithinWatermark keeps a key only until
# the watermark passes it, the 100 TB contract (state ~ |1 h of keys|,
# not the stream history; plain dropDuplicates would grow forever).
# Both copies of an event are identical, so the surviving row set is
# deterministic and equals the distinct source — the exact SQL twin.
ST5_SQL = """
SELECT event_id, event_type,
       floor(value * 10000.0 + 0.5) / 10000.0 AS value
FROM events
"""


@register("st5_streaming_dedup", ST5_SQL, survey_ref="SURVEY §2.10 + dedup family; bounded-state streaming dedup")
def st5_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    first, second = streams(spark, sf_dir, "events", "events")
    doubled = first.union(second).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type", dround(F.col("value"), 4).alias("value")
    )
    return _drain_to_memory(deduped, "append", "st5_dedup")


def _synthetic_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared audio fixture + framing for mm5/mm10: deterministic signed
    PCM slabs (sample i of audio a = (a*13 + i*7) % 251 - 125, int8)
    synthesized in an Arrow batch, then framed through the REAL
    operators.multimodal.audio_frame_features kernel.  One definition so
    the two queries' SQL twins can never drift from different fixtures."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import AUDIO_SCHEMA, audio_frame_features

    (orders,) = tables(spark, sf_dir, "orders")
    meta = orders.where(F.col("o_orderkey") % 300 == 0).select(
        F.col("o_orderkey").alias("a"),
        ((F.col("o_orderkey") % 1000) + 500).cast("int").alias("n"),
    )

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {"audio_id": [], "n_samples": [], "sample_rate": [], "payload": []}
            for a, n in zip(pdf["a"], pdf["n"]):
                i = np.arange(int(n), dtype=np.int64)
                x = ((int(a) * 13 + i * 7) % 251 - 125).astype(np.int8)
                rows["audio_id"].append(str(a))
                rows["n_samples"].append(int(n))
                rows["sample_rate"].append(16000)
                rows["payload"].append(x.tobytes())
            yield pd.DataFrame(rows)

    audio = meta.mapInPandas(synthesize, schema=AUDIO_SCHEMA)
    return audio_frame_features(audio, frame=64)


# --- MM5: audio frame features (oracle-checked) ----------------------------
# Completes the image/audio/video modality matrix: deterministic signed
# PCM slabs (sample i of audio a = (a*13 + i*7) % 251 - 125, int8),
# framed into non-overlapping 64-sample windows, per-frame RMS energy /
# zero-crossing rate / peak amplitude via the Arrow-batched kernel in
# operators.multimodal.audio_frame_features.  Integer-valued samples
# make every aggregate exact in double arithmetic, so the SQL twin is
# closed-form.
MM5_SQL = """
WITH auds AS (
    SELECT o_orderkey AS a, ((o_orderkey % 1000) + 500)::INT AS n
    FROM orders WHERE o_orderkey % 300 = 0
),
frames AS (
    SELECT a, f.f::INT AS frame_idx FROM auds, unnest(range(n // 64)) AS f(f)
),
samp AS (
    SELECT a, frame_idx, i.i AS i,
           ((a * 13 + (frame_idx * 64 + i.i) * 7) % 251 - 125)::DOUBLE AS x
    FROM frames, unnest(range(64)) AS i(i)
),
base AS (
    SELECT a, frame_idx,
           sqrt(avg(x * x)) AS rms,
           max(abs(x))::INT AS peak
    FROM samp GROUP BY a, frame_idx
),
zc AS (
    SELECT a, frame_idx,
           sum(CASE WHEN (((a * 13 + (frame_idx * 64 + t.i) * 7) % 251 - 125) >= 0)
                      <> (((a * 13 + (frame_idx * 64 + t.i + 1) * 7) % 251 - 125) >= 0)
                    THEN 1 ELSE 0 END) / 63.0 AS zcr
    FROM frames, unnest(range(63)) AS t(i)
    GROUP BY a, frame_idx
)
SELECT base.a::VARCHAR AS audio_id, base.frame_idx,
       floor(rms * 1000000.0 + 0.5) / 1000000.0 AS rms,
       floor(zcr * 1000000.0 + 0.5) / 1000000.0 AS zcr,
       peak
FROM base JOIN zc ON base.a = zc.a AND base.frame_idx = zc.frame_idx
"""


@register("mm5_audio_frame_features", MM5_SQL, survey_ref="north-star multimodal: audio frame features (RMS/ZCR/peak)")
def mm5_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _synthetic_audio_frames(spark, sf_dir)
    return feats.select(
        "audio_id",
        "frame_idx",
        dround(F.col("rms"), 6).alias("rms"),
        dround(F.col("zcr"), 6).alias("zcr"),
        "peak",
    )


# --- MM6: augmentation panel (kernel isotropy under flip / rot90) ----------
# The augmentation step of a vision-training ingest (mirror + 90-degree
# rotation), run through the FULL U1-U12 chain: each MM2_PANEL shape is
# decoded, transformed, re-encoded and re-featured.  Two things are
# verified at once: the Spark-side augmentation plumbing (decode →
# numpy transform → encode inside one Arrow batch, no extra shuffle —
# the transform rides the same mapInPandas wave as the synthesis), and
# the kernels' isotropy — the orientation sets of the log-Gabor bank
# are closed under mirror and 90-degree rotation, so Area/Solidity/
# Biovolume must come out (near-)identical to the untransformed panel;
# tests/test_multimodal_panel.py::test_mm6_isotropy pins that against
# the live mm2 chain.  Baked like MM2_SQL: two consecutive runs
# bit-identical.
MM6_TRANSFORMS = ("flip_h", "rot90")


def augmented_panel_rois(spark: SparkSession) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import ROI_SCHEMA

    base = panel_rois(spark)
    tdf = spark.createDataFrame(
        [(t,) for t in MM6_TRANSFORMS], "transform string"
    )
    crossed = base.crossJoin(F.broadcast(tdf))

    def aug(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..operators.image_codec import decode_pgm, encode_pgm

        for pdf in batches:
            out = {"sample": [], "roi_number": [], "image": [], "width": [], "height": []}
            for s, roi, blob, t in zip(
                pdf["sample"], pdf["roi_number"], pdf["image"], pdf["transform"]
            ):
                img = decode_pgm(bytes(blob))
                img2 = img[:, ::-1] if t == "flip_h" else np.rot90(img)
                img2 = np.ascontiguousarray(img2)
                out["sample"].append(f"{s}__{t}")
                out["roi_number"].append(int(roi))
                out["image"].append(encode_pgm(img2))
                out["width"].append(img2.shape[1])
                out["height"].append(img2.shape[0])
            yield pd.DataFrame(out)

    return crossed.mapInPandas(aug, schema=ROI_SCHEMA)


MM6_SQL = """
SELECT sample, transform, Area::DOUBLE AS Area, Perimeter::DOUBLE AS Perimeter,
       Eccentricity::DOUBLE AS Eccentricity, Solidity::DOUBLE AS Solidity,
       Biovolume::DOUBLE AS Biovolume, BiovolumeBranch,
       summedArea::DOUBLE AS summedArea
FROM (VALUES
    ('disk_r12', 'flip_h', 446.0, 75.598, 0.092, 0.9741, 6999.2066, 'sor', 446.0),
    ('disk_r12', 'rot90', 446.0, 75.598, 0.092, 0.9741, 6999.2066, 'sor', 446.0),
    ('disk_r15', 'flip_h', 697.0, 99.7401, 0.1001, 0.9619, 13559.6375, 'sor', 697.0),
    ('disk_r15', 'rot90', 697.0, 99.7401, 0.1001, 0.9619, 13559.6375, 'sor', 697.0),
    ('disk_r6', 'flip_h', 144.0, 45.799, 0.171, 0.9096, 1288.3148, 'sor', 144.0),
    ('disk_r6', 'rot90', 144.0, 45.799, 0.171, 0.9096, 1288.3148, 'sor', 144.0),
    ('disk_r9', 'flip_h', 273.0, 60.2843, 0.2313, 0.9502, 3288.7239, 'sor', 273.0),
    ('disk_r9', 'rot90', 273.0, 60.2843, 0.2313, 0.9502, 3288.7239, 'sor', 273.0),
    ('ellipse_14x6', 'flip_h', 227.0, 70.6274, 0.9434, 0.9216, 1467.9092, 'sor', 227.0),
    ('ellipse_14x6', 'rot90', 230.0, 71.4558, 0.9432, 0.9146, 1499.3251, 'sor', 230.0),
    ('ellipse_18x8', 'flip_h', 420.0, 88.5269, 0.9219, 0.9474, 4013.9082, 'sor', 420.0),
    ('ellipse_18x8', 'rot90', 423.0, 89.3553, 0.9193, 0.9297, 4089.83, 'sor', 423.0),
    ('lshape_20x8', 'flip_h', 236.0, 85.0711, 0.8398, 0.615, 1105.675, 'distmap', 236.0),
    ('lshape_20x8', 'rot90', 236.0, 85.0711, 0.8398, 0.615, 1105.675, 'distmap', 236.0),
    ('rect_10x10', 'flip_h', 104.0, 36.0, 0.0, 0.7273, 804.2477, 'sor', 104.0),
    ('rect_10x10', 'rot90', 104.0, 36.0, 0.0, 0.7273, 804.2477, 'sor', 104.0),
    ('rect_12x5', 'flip_h', 84.0, 50.9706, 0.9319, 0.5874, 260.0524, 'distmap', 84.0),
    ('rect_12x5', 'rot90', 84.0, 50.9706, 0.9319, 0.5874, 260.0524, 'distmap', 84.0),
    ('rect_18x7', 'flip_h', 108.0, 51.6569, 0.9652, 0.777, 395.929, 'distmap', 108.0),
    ('rect_18x7', 'rot90', 108.0, 51.6569, 0.9652, 0.777, 395.929, 'distmap', 108.0),
    ('rect_24x9', 'flip_h', 168.0, 58.0, 0.9574, 1.006, 923.6282, 'sor', 168.0),
    ('rect_24x9', 'rot90', 168.0, 58.0, 0.9574, 1.006, 923.6282, 'sor', 168.0),
    ('ribbon_30x4', 'flip_h', 64.0, 60.0, 0.9978, 0.5039, 94.6174, 'distmap', 64.0),
    ('ribbon_30x4', 'rot90', 64.0, 60.0, 0.9978, 0.5039, 94.6174, 'distmap', 64.0)
) AS t(sample, transform, Area, Perimeter, Eccentricity, Solidity, Biovolume, BiovolumeBranch, summedArea)
"""


@register("mm6_augmentation_panel", MM6_SQL, survey_ref="beyond reference: augmentation (flip/rot90) + kernel isotropy, full U1-U12 chain")
def mm6_augmentation_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kernels import features_from_images

    # RINGWEDGE_SIZE=65 profiling canvas, oracle baked to match (parity=301).
    feats = features_from_images(augmented_panel_rois(spark))
    return feats.select(
        F.split_part(F.col("sample"), F.lit("__"), F.lit(1)).alias("sample"),
        F.split_part(F.col("sample"), F.lit("__"), F.lit(2)).alias("transform"),
        dround(F.col("Area"), 4).alias("Area"),
        dround(F.col("Perimeter"), 4).alias("Perimeter"),
        dround(F.col("Eccentricity"), 4).alias("Eccentricity"),
        dround(F.col("Solidity"), 4).alias("Solidity"),
        dround(F.col("Biovolume"), 4).alias("Biovolume"),
        "BiovolumeBranch",
        dround(F.col("summedArea"), 4).alias("summedArea"),
    )


# --- ST6: sliding-window streaming rates -----------------------------------
# The overlapping-window form st1's tumbling windows can't express: a
# 1-hour window advancing every 30 minutes, so each event lands in
# exactly two windows — the standard "rate over the trailing hour,
# refreshed twice an hour" monitoring shape.  Same run contract as
# st1: real Structured Streaming drained once via availableNow.
# State is |open windows| × |event types| — bounded regardless of
# stream length.  The oracle materializes the two candidate window
# starts per event arithmetically.
ST6_SQL = """
WITH starts AS (
    SELECT event_type, unnest([
        time_bucket(INTERVAL '30 minutes', ts),
        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
    ]) AS window_start
    FROM events
)
SELECT window_start::TIMESTAMP AS window_start, event_type,
       count(*)::BIGINT AS n
FROM starts GROUP BY window_start, event_type
"""


@register("st6_sliding_window_rates", ST6_SQL, survey_ref="SURVEY §2.10; sliding (overlapping) streaming windows")
def st6_sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    (stream,) = streams(spark, sf_dir, "events")
    windowed = (
        stream.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain_to_memory(windowed, "complete", "st6_sliding")


# --- MM7: modality-coverage profile ----------------------------------------
# The pre-flight QC before a multimodal join (tp2): per source domain,
# how many documents actually HAVE an embedding, and the coverage
# fraction — run before committing to a modality-equi-join so silent
# missing-modality loss is visible.  One left join on the id key (at
# scale: co-partitioned, or a broadcast of the smaller id set) + one
# conditional aggregation; the fraction is one exact integer division.
# The embedding store is modeled as incomplete (a deterministic-hash
# quarter of the vectors missing) so the coverage dial is non-trivial
# at every scale factor — at sf0.01 the raw tables align 1:1 and the
# profile would read 100%, and an id-arithmetic drop would collapse to
# 0/1 per source because source assignment shares the id's residue.
MM7_SQL = """
SELECT d.source,
       count(*)::BIGINT AS n_docs,
       count(e.vec_id)::BIGINT AS n_with_embedding,
       floor(count(e.vec_id)::DOUBLE / count(*) * 1000000.0 + 0.5)
           / 1000000.0 AS coverage
FROM documents d
LEFT JOIN (SELECT vec_id FROM embeddings
           WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 4 <> 0) e
  ON d.doc_id = e.vec_id
GROUP BY d.source
"""


@register("mm7_modality_coverage", MM7_SQL, survey_ref="beyond reference: modality-completeness QC before the multimodal join")
def mm7_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents, embeddings = tables(spark, sf_dir, "documents", "embeddings")
    joined = documents.join(
        embeddings.where(hash32(F.col("vec_id").cast("string")) % 4 != 0).select(
            F.col("vec_id")
        ),
        documents.doc_id == F.col("vec_id"),
        "left",
    )
    n_emb = F.count("vec_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        n_emb.alias("n_with_embedding"),
        (
            F.floor(n_emb.cast("double") / F.count(F.lit(1)) * 1000000.0 + F.lit(0.5))
            / 1000000.0
        ).alias("coverage"),
    )


# --- MM8: ViT-style patchification (oracle-checked) -------------------------
# The tokenizer of a vision transformer ingest: normalize every ROI to a
# fixed 16×16, split it into a 4×4 grid of 4×4 patches, one output row
# per patch with its EXACT integer pixel sum.  Patch extraction is pure
# per-image work (mapInPandas, zero shuffle after the bin explode); the
# deterministic PGM pixels make every patch sum closed-form, so the
# whole decode→resize→patchify chain has a value-level SQL twin (the
# mm3 strategy, extended through the reshape).  Integer sums, not
# means — the finite-decimal rule needs no rounding at all here.
MM8_SQL = """
WITH bins AS (
    SELECT o_orderkey::VARCHAR AS sample, ((o_orderkey % 50) + 1)::INT AS n_rois
    FROM orders WHERE o_orderkey % 400 = 0
),
rois AS (
    SELECT sample, t.roi::INT AS roi,
           (8 + t.roi % 16)::BIGINT AS w,
           (8 + (t.roi * 3) % 16)::BIGINT AS h
    FROM bins, unnest(range(1, n_rois + 1)) AS t(roi)
),
px AS (
    SELECT sample, roi,
           (y // 4)::INT AS patch_row, (x // 4)::INT AS patch_col,
           ((roi * 31 + ((y * h) // 16) * w + ((x * w) // 16)) % 251) AS v
    FROM rois, unnest(range(16)) AS yy(y), unnest(range(16)) AS xx(x)
)
SELECT sample, roi AS roi_number, patch_row, patch_col,
       (patch_row * 4 + patch_col)::INT AS patch_idx,
       sum(v)::BIGINT AS sum_px
FROM px GROUP BY sample, roi, patch_row, patch_col
"""


@register("mm8_patchify", MM8_SQL, survey_ref="beyond reference: ViT patch tokenization (decode -> resize -> 4x4 patch grid, exact sums)")
def mm8_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    bins = orders.where(F.col("o_orderkey") % 400 == 0).select(
        F.col("o_orderkey").cast("string").alias("sample"),
        ((F.col("o_orderkey") % 50) + 1).cast("int").alias("n_rois"),
    )
    rois = explode_bins_to_rois(bins)

    import pandas as pd
    from collections.abc import Iterator

    # resize + patchify FUSED into one mapInPandas (guide §4: every
    # chained Python node is a JVM↔Python round trip plus, here, a PGM
    # re-encode/re-decode that exists only to carry pixels between the
    # two stages; r18 measured the 3-node chain's full-width worker
    # stampede at 2-15 s/pass on 38 rows).  PGM is lossless and
    # resize_nearest deterministic, so decode→resize→patch-sum in one
    # pass gives the values a staged chain would.
    def patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..operators.image_codec import resize_nearest
        from ..operators.multimodal import decode_image

        for pdf in batches:
            out = {
                "sample": [], "roi_number": [], "patch_row": [],
                "patch_col": [], "patch_idx": [], "sum_px": [],
            }
            for sample, roi, blob, w, h in zip(
                pdf["sample"], pdf["roi_number"], pdf["image"],
                pdf["width"], pdf["height"],
            ):
                img = resize_nearest(
                    decode_image(bytes(blob), w, h), 16, 16
                ).astype(np.int64)
                sums = img.reshape(4, 4, 4, 4).sum(axis=(1, 3))
                for pr in range(4):
                    for pc in range(4):
                        out["sample"].append(sample)
                        out["roi_number"].append(roi)
                        out["patch_row"].append(pr)
                        out["patch_col"].append(pc)
                        out["patch_idx"].append(pr * 4 + pc)
                        out["sum_px"].append(int(sums[pr, pc]))
            yield pd.DataFrame(out)

    return rois.mapInPandas(
        patchify,
        schema=(
            "sample string, roi_number int, patch_row int, patch_col int, "
            "patch_idx int, sum_px long"
        ),
    )


# --- ST7: stream-static enrichment join ------------------------------------
# The canonical streaming-ingest enrichment: a fact stream joined to a
# slowly-changing dimension that lives as a plain batch table.  Unlike
# st4's stream-stream join this needs NO watermark and NO join state —
# Spark re-plans the static side into each micro-batch (broadcast-sized
# dim ⇒ broadcast hash join per batch), which is exactly the 1000-
# executor shape: the stream shuffles only for the final aggregation.
# Exact integer cents through the sum (finite-decimal rule).
ST7_SQL = """
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*)::BIGINT AS n,
       sum(floor(e.value * 100.0 + 0.5)::BIGINT)::BIGINT AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("st7_stream_static_join", ST7_SQL, survey_ref="SURVEY §2.10; stream-static dimension enrichment (no watermark, no join state)")
def st7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = tables(spark, sf_dir, "customer")
    dim = customer.select("c_custkey", "c_mktsegment")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")

    (stream,) = streams(spark, sf_dir, "events")
    enriched = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
    )
    return _drain_to_memory(enriched, "complete", "st7_enriched")


# --- ST8: streaming session windows (watermarked, append mode) -------------
# w5/w7 sessionize in batch; st8 is the streaming form: native
# ``session_window`` state merged across events, 40-minute watermark,
# APPEND output — a session is emitted exactly once, when the watermark
# passes its end (last event + 30-minute gap).  State per key is one
# open session, pruned by the watermark — bounded regardless of stream
# length, the 100 TB contract.  With the availableNow drain the final
# watermark is max(ts) − 40 min, so the emitted set is deterministic and
# has an exact SQL twin: microsecond-precision sessionization (w7's
# oracle form — never truncate to seconds, ADVICE r5) with sessions
# finalized iff last_ts + 30 min <= max_ts − 40 min.  A boundary tie
# needs two events exactly 4200 s apart — measure-zero at microsecond
# grain (same adjudicated argument as st3).
ST8_SQL = """
WITH e AS (
    SELECT user_id, ts::TIMESTAMP AS ts, epoch_us(ts::TIMESTAMP) AS us
    FROM events
),
lagged AS (
    SELECT user_id, ts, us,
           lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
    FROM e
),
flagged AS (
    SELECT user_id, ts, us,
           CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM lagged
),
sess AS (
    SELECT user_id, ts, us,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, sid,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*)::BIGINT AS n_events
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
WHERE session_end <= (SELECT max(ts::TIMESTAMP) - INTERVAL '40 minutes' FROM events)
"""


@register("st8_streaming_sessions", ST8_SQL, survey_ref="SURVEY §2.10 + §2.6 W5; streaming session_window with watermark (native form of w5/w7 over an unbounded stream)")
def st8_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (stream,) = streams(spark, sf_dir, "events")
    sessions = (
        stream.withWatermark("ts", "40 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return _drain_to_memory(sessions, "append", "st8_sessions")


# --- MM9: perceptual-hash (dHash) image dedup manifest ----------------------
# Pixel-space near-duplicate detection — the image-side sibling of the
# text dedup family: decode each ROI, nearest-resize to 9×8, take the
# 64 horizontal gradient signs as a difference hash, and group the
# corpus by it.  Identical-looking images (the synthetic corpus plants
# them: a ROI number fully determines its pixel pattern, so the same
# ROI index recurs across bins) land in the same group regardless of
# their source bin.  The hash is split into two exact BIGINT halves —
# the manifest emits per-group stats, never O(n²) pairs, and grouping
# by a 64-bit key is a single balanced shuffle at any corpus size.
# Hamming-radius (rather than exact) matching would reuse sim2's
# banding on the same halves.
MM9_SQL = """
WITH bins AS (
    SELECT o_orderkey::BIGINT AS sample, ((o_orderkey % 50) + 1)::INT AS n_rois
    FROM orders WHERE o_orderkey % 200 = 0
),
rois AS (
    SELECT sample, t.roi::INT AS roi,
           (8 + t.roi % 16)::BIGINT AS w,
           (8 + (t.roi * 3) % 16)::BIGINT AS h
    FROM bins, unnest(range(1, n_rois + 1)) AS t(roi)
),
px AS (
    SELECT sample, roi, y, x,
           ((roi * 31 + ((y * h) // 8) * w + ((x * w) // 9)) % 251) AS v
    FROM rois, unnest(range(8)) AS yy(y), unnest(range(9)) AS xx(x)
),
bits AS (
    SELECT a.sample, a.roi, a.y, a.x,
           CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
    FROM px a JOIN px b
      ON a.sample = b.sample AND a.roi = b.roi AND a.y = b.y
     AND b.x = a.x + 1
    WHERE a.x < 8
),
hashes AS (
    SELECT sample, roi,
           sum(CASE WHEN y * 8 + x >= 32
                    THEN bit << (y * 8 + x - 32) ELSE 0 END)::BIGINT AS dhash_hi,
           sum(CASE WHEN y * 8 + x < 32
                    THEN bit << (y * 8 + x) ELSE 0 END)::BIGINT AS dhash_lo
    FROM bits GROUP BY sample, roi
)
SELECT dhash_hi, dhash_lo,
       count(*)::BIGINT AS n_rois,
       count(DISTINCT sample)::BIGINT AS n_samples,
       min(sample)::BIGINT AS canonical_sample
FROM hashes GROUP BY dhash_hi, dhash_lo
"""


@register("mm9_perceptual_dedup", MM9_SQL, survey_ref="beyond reference: dHash perceptual image dedup manifest (decode -> 9x8 resize -> gradient-sign hash)")
def mm9_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    bins = orders.where(F.col("o_orderkey") % 200 == 0).select(
        F.col("o_orderkey").cast("string").alias("sample"),
        ((F.col("o_orderkey") % 50) + 1).cast("int").alias("n_rois"),
    )
    rois = explode_bins_to_rois(bins)

    import pandas as pd
    from collections.abc import Iterator

    def dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..operators.image_codec import resize_nearest
        from ..operators.multimodal import decode_image

        for pdf in batches:
            out = {"sample": [], "roi_number": [], "dhash_hi": [], "dhash_lo": []}
            for sample, roi, blob, w, h in zip(
                pdf["sample"], pdf["roi_number"], pdf["image"],
                pdf["width"], pdf["height"],
            ):
                img = resize_nearest(
                    decode_image(bytes(blob), w, h), 8, 9
                ).astype(np.int64)
                bits = (img[:, 1:] > img[:, :-1]).astype(np.int64).ravel()
                pos = np.arange(64, dtype=np.int64)
                hi = int(((bits[32:] << (pos[32:] - 32))).sum())
                lo = int((bits[:32] << pos[:32]).sum())
                out["sample"].append(sample)
                out["roi_number"].append(roi)
                out["dhash_hi"].append(hi)
                out["dhash_lo"].append(lo)
            yield pd.DataFrame(out)

    hashes = rois.mapInPandas(
        dhash, schema="sample string, roi_number int, dhash_hi long, dhash_lo long"
    )
    return hashes.groupBy("dhash_hi", "dhash_lo").agg(
        F.count(F.lit(1)).alias("n_rois"),
        F.countDistinct("sample").alias("n_samples"),
        F.min(F.col("sample").cast("long")).alias("canonical_sample"),
    )


# --- MM10: voice-activity gating (VAD) over audio frames --------------------
# The silence-removal pass of a speech-training ingest: frame the PCM
# (the real mm5 Arrow kernel), gate frames on RMS energy, then keep
# only ACTIVE RUNS of >= 3 consecutive frames — isolated energy blips
# are noise, not speech.  The run-length machinery is i9's (change
# flag -> run id via two audio-partitioned windows); per-audio frame
# counts are bounded, and the gate compares the raw RMS doubles, which
# are bit-identical across engines (exact-integer sums under sqrt).
_MM10_RMS, _MM10_MIN_RUN = 73.0, 3

MM10_SQL = f"""
WITH auds AS (
    SELECT o_orderkey AS a, ((o_orderkey % 1000) + 500)::INT AS n
    FROM orders WHERE o_orderkey % 300 = 0
),
frames AS (
    SELECT a, f.f::INT AS frame_idx FROM auds, unnest(range(n // 64)) AS f(f)
),
samp AS (
    SELECT a, frame_idx, i.i AS i,
           ((a * 13 + (frame_idx * 64 + i.i) * 7) % 251 - 125)::DOUBLE AS x
    FROM frames, unnest(range(64)) AS i(i)
),
gated AS (
    SELECT a, frame_idx,
           (sqrt(avg(x * x)) >= {_MM10_RMS}) AS active,
           max(abs(x))::INT AS peak
    FROM samp GROUP BY a, frame_idx
),
chg AS (
    SELECT a, frame_idx, active, peak,
           CASE WHEN active = lag(active) OVER w THEN 0 ELSE 1 END AS flip
    FROM gated
    WINDOW w AS (PARTITION BY a ORDER BY frame_idx)
),
runs AS (
    SELECT a, frame_idx, active, peak,
           sum(flip) OVER (PARTITION BY a ORDER BY frame_idx
                           ROWS UNBOUNDED PRECEDING) AS run_id
    FROM chg
),
segs AS (
    SELECT a, run_id,
           min(frame_idx) AS seg_start,
           max(frame_idx) AS seg_end,
           count(*)::BIGINT AS n_frames,
           max(peak)::INT AS max_peak
    FROM runs WHERE active GROUP BY a, run_id
)
SELECT a::VARCHAR AS audio_id, seg_start, seg_end, n_frames, max_peak
FROM segs WHERE n_frames >= {_MM10_MIN_RUN}
"""


@register("mm10_voice_activity", MM10_SQL, survey_ref="beyond reference: VAD silence removal (energy gate + min-run smoothing over real PCM frames)")
def mm10_voice_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _synthetic_audio_frames(spark, sf_dir)
    gated = feats.select(
        "audio_id",
        "frame_idx",
        (F.col("rms") >= _MM10_RMS).alias("active"),
        "peak",
    )
    w = Window.partitionBy("audio_id").orderBy("frame_idx")
    runs = gated.withColumn(
        "run_id",
        F.sum(
            F.when(F.col("active") == F.lag("active").over(w), 0).otherwise(1)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.where(F.col("active"))
        .groupBy("audio_id", "run_id")
        .agg(
            F.min("frame_idx").alias("seg_start"),
            F.max("frame_idx").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames"),
            F.max("peak").alias("max_peak"),
        )
        .where(F.col("n_frames") >= _MM10_MIN_RUN)
        .select("audio_id", "seg_start", "seg_end", "n_frames", "max_peak")
    )


# --- MM11: scene-change detection (consecutive-frame L1 deltas) -------------
# The video-curation gate mm4's sampler feeds: decode EVERY frame of the
# slab, compute the per-pair L1 pixel delta |frame_f − frame_{f−1}|
# (exact BIGINT — uint8 pixels), and flag cuts where the delta spikes.
# The delta kernel runs INSIDE one Arrow-batched pass over each video's
# payload (scene detection is a per-slab sequential computation — no
# frame shuffle, no self-join of a frame table), so a 100 TB video
# corpus costs one scan with per-video parallelism.  The oracle
# re-derives the same deltas relationally: a pixel-aligned self-join of
# the synthetic frame formula — same numbers, opposite plan, exact.
_MM11_CUT = 3600


MM11_SQL = f"""
WITH vids AS (
    SELECT o_orderkey AS v, ((o_orderkey % 24) + 4)::INT AS n_frames
    FROM orders WHERE o_orderkey % 500 = 0
),
frames AS (
    SELECT v, f.f::INT AS frame_idx
    FROM vids, unnest(range(0, n_frames)) AS f(f)
),
px AS (
    SELECT v, frame_idx, i.i AS i,
           ((v * 7 + frame_idx * 13 + i.i) % 251) AS val
    FROM frames, unnest(range(144)) AS i(i)
),
d AS (
    SELECT a.v, a.frame_idx,
           sum(abs(a.val - b.val))::BIGINT AS l1_delta
    FROM px a JOIN px b
      ON a.v = b.v AND b.frame_idx = a.frame_idx - 1 AND a.i = b.i
    GROUP BY a.v, a.frame_idx
)
SELECT v::VARCHAR AS video_id, frame_idx, l1_delta,
       (l1_delta > {_MM11_CUT}) AS is_cut
FROM d
"""


@register("mm11_scene_cuts", MM11_SQL, survey_ref="north-star multimodal: video scene-change detection (per-slab sequential kernel, exact integer deltas)")
def mm11_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    (orders,) = tables(spark, sf_dir, "orders")
    meta = orders.where(F.col("o_orderkey") % 500 == 0).select(
        F.col("o_orderkey").alias("v"),
        ((F.col("o_orderkey") % 24) + 4).cast("int").alias("n_frames"),
    )

    def deltas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"video_id": [], "frame_idx": [], "l1_delta": [], "is_cut": []}
            for v, n in zip(pdf["v"], pdf["n_frames"]):
                n = int(n)
                i = np.arange(n * 144, dtype=np.int64)
                f = i // 144
                slab = ((int(v) * 7 + f * 13 + (i % 144)) % 251).astype(np.uint8)
                # round-trip through the binary payload form (the slab is
                # an opaque bytes column in a real video table)
                payload = slab.tobytes()
                frames = (
                    np.frombuffer(payload, dtype=np.uint8)
                    .reshape(n, 144)
                    .astype(np.int64)
                )
                l1 = np.abs(np.diff(frames, axis=0)).sum(axis=1)
                for fi in range(1, n):
                    out["video_id"].append(str(v))
                    out["frame_idx"].append(fi)
                    out["l1_delta"].append(int(l1[fi - 1]))
                    out["is_cut"].append(bool(l1[fi - 1] > _MM11_CUT))
            yield pd.DataFrame(out)

    return meta.mapInPandas(
        deltas,
        schema="video_id string, frame_idx int, l1_delta long, is_cut boolean",
    )


# --- MM12: audio spectral features (8-point DFT magnitudes) -----------------
# The spectral half of the audio family (mm5 = time-domain RMS/ZCR/peak,
# mm10 = VAD): an 8-point DFT over the head of each 64-sample frame,
# emitting power in bins k=0..4.  Both engines evaluate the SAME
# left-associated sum Σ_n x_n·coef with the SAME full-precision decimal
# coefficient literals — the Spark kernel accumulates in index order
# (not np.dot's pairwise order), so the doubles are bit-identical
# before the final rounding.  Scale: one Arrow-batched pass over the
# PCM payloads, shuffle-free; bins are fixed columns, never exploded.
import math as _math

_MM12_N = 8
_MM12_K = 5
_MM12_COS = [
    [_math.cos(2 * _math.pi * k * n / _MM12_N) for n in range(_MM12_N)]
    for k in range(_MM12_K)
]
_MM12_SIN = [
    [_math.sin(2 * _math.pi * k * n / _MM12_N) for n in range(_MM12_N)]
    for k in range(_MM12_K)
]


def _mm12_x_sql(n: int) -> str:
    return f"((a * 13 + (f * 64 + {n}) * 7) % 251 - 125)"


def _mm12_power_sql(k: int) -> str:
    re = " + ".join(
        f"{_mm12_x_sql(n)} * ({_MM12_COS[k][n]!r})" for n in range(_MM12_N)
    )
    im = " + ".join(
        f"{_mm12_x_sql(n)} * ({_MM12_SIN[k][n]!r})" for n in range(_MM12_N)
    )
    return (
        f"floor((({re}) * ({re}) + ({im}) * ({im})) * 1000000.0 + 0.5)"
        " / 1000000.0"
    )


MM12_SQL = f"""
WITH auds AS (
    SELECT o_orderkey AS a, ((o_orderkey % 1000) + 500)::INT AS n
    FROM orders WHERE o_orderkey % 300 = 0
),
frames AS (
    SELECT a, u.f::INT AS frame_idx, u.f AS f
    FROM auds, unnest(range(n // 64)) AS u(f)
)
SELECT a::VARCHAR AS audio_id, frame_idx,
       {", ".join(f"{_mm12_power_sql(k)} AS power_{k}" for k in range(_MM12_K))}
FROM frames
"""


@register("mm12_spectral_frames", MM12_SQL, survey_ref="north-star multimodal: audio spectral features (8-point DFT power bins, bit-identical left-associated sums)")
def mm12_spectral_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    (orders,) = tables(spark, sf_dir, "orders")
    meta = orders.where(F.col("o_orderkey") % 300 == 0).select(
        F.col("o_orderkey").alias("a"),
        ((F.col("o_orderkey") % 1000) + 500).cast("int").alias("n"),
    )

    def spectra(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cos = np.array(_MM12_COS)
        sin = np.array(_MM12_SIN)
        for pdf in batches:
            out: dict = {"audio_id": [], "frame_idx": []}
            for k in range(_MM12_K):
                out[f"power_{k}"] = []
            for a, n in zip(pdf["a"], pdf["n"]):
                n = int(n)
                i = np.arange(n, dtype=np.int64)
                pcm = ((int(a) * 13 + i * 7) % 251 - 125).astype(np.int8)
                payload = pcm.tobytes()
                x = np.frombuffer(payload, dtype=np.int8).astype(np.float64)
                n_frames = n // 64
                heads = x[: n_frames * 64].reshape(n_frames, 64)[:, :_MM12_N]
                for k in range(_MM12_K):
                    # accumulate in index order to match the SQL twin's
                    # left-associated sum bit-for-bit
                    re = np.zeros(n_frames)
                    im = np.zeros(n_frames)
                    for idx in range(_MM12_N):
                        re = re + heads[:, idx] * cos[k][idx]
                        im = im + heads[:, idx] * sin[k][idx]
                    p = re * re + im * im
                    out[f"power_{k}"].extend(
                        np.floor(p * 1e6 + 0.5) / 1e6
                    )
                out["audio_id"].extend([str(a)] * n_frames)
                out["frame_idx"].extend(range(n_frames))
            yield pd.DataFrame(out)

    schema = "audio_id string, frame_idx int, " + ", ".join(
        f"power_{k} double" for k in range(_MM12_K)
    )
    return meta.mapInPandas(spectra, schema=schema)


# --- ST9: stream-stream join state-retention audit --------------------------
# st4's view->click attribution join, run as a stream-stream join,
# keeps every view in state until the watermark passes its join window;
# the delay D is the knob that trades completeness for state size.
# This audit computes, for a candidate delay grid {60s, 180s, 600s},
# exactly which attribution pairs survive: with in-order arrival the
# state-residency a pair needs equals its event-time gap, so a pair is
# lost iff gap > D (the planted-disorder variant of this law is
# exercised by i11's anchors; the grid here sizes the knob).  Output
# per candidate delay: pair counts, loss rate, and the max/mean gap the
# state must hold — the numbers an operator reads before picking
# withWatermark().  Scale shape: ONE equi-join on user_id (hash join,
# no BNLJ — the range predicate is a post-join filter on the co-keyed
# pairs), then explode×3 over the literal grid (narrow) and a 3-group
# hash agg.  Gaps are exact BIGINT micros; ratios are int/int (dround
# safe); the 600s window bound in micros is computed in BIGINT
# (600::BIGINT * 1000000 — the INT32-overflow rule).
ST9_SQL = r"""
WITH pairs AS MATERIALIZED (
    SELECT c.user_id,
           epoch_us(c.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP) AS gap_us
    FROM events c JOIN events v ON c.user_id = v.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts <= c.ts
      AND epoch_us(c.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP)
          < 600::BIGINT * 1000000
),
g AS (
    SELECT p.gap_us, d.delay_s
    FROM pairs p, (SELECT unnest([60, 180, 600]) AS delay_s) d
)
SELECT delay_s::BIGINT AS delay_s,
       count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN gap_us <= delay_s::BIGINT * 1000000 THEN 1 ELSE 0
           END)::BIGINT AS n_retained,
       sum(CASE WHEN gap_us > delay_s::BIGINT * 1000000 THEN 1 ELSE 0
           END)::BIGINT AS n_lost,
       {loss6} AS loss_frac,
       (max(gap_us) // 1000000)::BIGINT AS max_gap_s,
       {mean4} AS mean_gap_s
FROM g GROUP BY delay_s
""".format(
    loss6=dround_sql(
        "sum(CASE WHEN gap_us > delay_s::BIGINT * 1000000 THEN 1 ELSE 0 END)"
        " * 1.0 / count(*)",
        6,
    ),
    mean4=dround_sql("sum(gap_us)::BIGINT * 1.0 / count(*) / 1000000.0", 4),
)


@register(
    "st9_join_state_audit",
    ST9_SQL,
    survey_ref="beyond reference (SURVEY §2.10 family): watermark-delay grid "
    "audit for the st4 stream-stream attribution join's state retention",
)
def st9_join_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    ev = events.select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("c_us")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("us").alias("v_us")
    )
    window_us = F.lit(600).cast("long") * F.lit(1000000)
    pairs = (
        clicks.join(views, "user_id")
        .where(
            (F.col("v_us") <= F.col("c_us"))
            & (F.col("c_us") - F.col("v_us") < window_us)
        )
        .select((F.col("c_us") - F.col("v_us")).alias("gap_us"))
    )
    g = pairs.select(
        "gap_us",
        F.explode(F.array(F.lit(60), F.lit(180), F.lit(600))).alias("delay_s"),
    )
    d_us = F.col("delay_s").cast("long") * F.lit(1000000)
    lost = F.when(F.col("gap_us") > d_us, 1).otherwise(0)
    return g.groupBy(F.col("delay_s").cast("long").alias("delay_s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(1 - lost).cast("long").alias("n_retained"),
        F.sum(lost).cast("long").alias("n_lost"),
        dround(F.sum(lost) * F.lit(1.0) / F.count(F.lit(1)), 6).alias("loss_frac"),
        F.expr("max(gap_us) div 1000000").cast("long").alias("max_gap_s"),
        dround(
            F.sum("gap_us").cast("long") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000.0),
            4,
        ).alias("mean_gap_s"),
    )
