"""U-kernel tests against shapes with analytically known geometry
(SURVEY §5 T1: 'synthetic shapes with analytically known geometry')."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ifcb_data_pipeline_spark.operators.kernels import (
    biovolume_sor_raster,
    blob_features_ref,
    explicit_orientation,
    features_from_images,
    find_blobs_sorted,
    hu_moments,
    roi_features_ref,
    texture_stats,
)
from ifcb_data_pipeline_spark.operators.rotation import rotate_blob


def disk_mask(r: int, pad: int = 2) -> np.ndarray:
    n = 2 * (r + pad) + 1
    yy, xx = np.mgrid[:n, :n]
    c = r + pad
    return ((xx - c) ** 2 + (yy - c) ** 2 <= r * r).astype(np.uint8)


def rect_mask(w: int, h: int, pad: int = 2) -> np.ndarray:
    m = np.zeros((h + 2 * pad, w + 2 * pad), dtype=np.uint8)
    m[pad : pad + h, pad : pad + w] = 1
    return m


def largest_blob_features(mask: np.ndarray) -> dict:
    """The exported per-blob features of the mask's largest blob."""
    return blob_features_ref(find_blobs_sorted(mask)[0])


def test_rectangle_geometry_exact():
    g = largest_blob_features(rect_mask(10, 4))
    assert g["Area"] == 40.0
    assert g["BoundingBox_xwidth"] == 10.0 and g["BoundingBox_ywidth"] == 4.0
    assert g["Extent"] == 1.0
    assert abs(g["Orientation"]) < 1e-9  # long axis horizontal
    assert g["MajorAxisLength"] > g["MinorAxisLength"]


def test_disk_geometry_analytic():
    r = 20
    g = largest_blob_features(disk_mask(r))
    assert g["Area"] == pytest.approx(math.pi * r * r, rel=0.02)
    assert g["EquivDiameter"] == pytest.approx(2 * r, rel=0.02)
    assert g["Eccentricity"] < 0.05  # circle ≈ no eccentricity
    assert g["MajorAxisLength"] == pytest.approx(2 * r, rel=0.05)


def test_hull_metrics_disk():
    r = 20
    h = largest_blob_features(disk_mask(r))
    assert h["maxFeretDiameter"] == pytest.approx(2 * r + 1, rel=0.03)
    assert h["minFeretDiameter"] == pytest.approx(2 * r + 1, rel=0.03)
    assert h["ConvexPerimeter"] == pytest.approx(2 * math.pi * r, rel=0.05)


def test_solidity_convex_shape_near_one():
    g = largest_blob_features(disk_mask(15))
    assert g["Area"] / g["ConvexArea"] == pytest.approx(1.0, abs=0.05)


def test_hu_moments_invariance():
    base = rect_mask(12, 5)
    translated = np.pad(base, ((7, 0), (3, 0)))
    rotated = np.rot90(base)
    phi_base = hu_moments(base)
    phi_t = hu_moments(translated)
    phi_r = hu_moments(rotated)
    for a, b in zip(phi_base, phi_t):
        assert a == pytest.approx(b, rel=1e-9)  # translation invariant
    for a, b in zip(phi_base[:4], phi_r[:4]):
        assert a == pytest.approx(b, rel=1e-6)  # rotation invariant


def test_texture_uniform_image():
    img = np.full((10, 10), 128, dtype=np.uint8)
    mask = np.ones_like(img)
    t = texture_stats(img, mask)
    # flat image: p1 == p99 so the contrast stretch degenerates to a
    # clip; every enhanced pixel is round(128/255·255) = 128
    assert t["texture_average_gray_level"] == 128.0
    assert t["texture_average_contrast"] == pytest.approx(0.0, abs=1e-12)
    assert t["texture_uniformity"] == 1.0
    # the reference's eps regularizer leaves -log2(1+eps) ≈ -3e-16
    assert t["texture_entropy"] == pytest.approx(0.0, abs=1e-12)
    assert t["texture_smoothness"] == 0.0


def test_features_from_images_spark(spark):
    from ifcb_data_pipeline_spark.operators.multimodal import explode_bins_to_rois

    bins = spark.createDataFrame([("b1", 6)], "sample string, n_rois int")
    rois = explode_bins_to_rois(bins)
    feats = features_from_images(rois)
    rows = feats.collect()
    assert len(rows) == 6
    for r in rows:
        assert r["Area"] >= 0
        assert len(r["moment_invariants"]) == 7
        # texture statistics live on the 0..255 scale (reference form)
        assert 0 <= r["texture_average_gray_level"] <= 255
        if r["ConvexArea"] > 0:
            assert 0 < r["Solidity"] <= 1.2


def test_label_components_counts_blobs():
    from ifcb_data_pipeline_spark.operators.kernels import label_components

    m = np.zeros((10, 12), dtype=np.uint8)
    m[1:4, 1:4] = 1     # blob 1
    m[6:9, 2:5] = 1     # blob 2 (separated)
    m[2:5, 7:11] = 1    # blob 3 (overlaps blob 1's rows but not cols)
    labels, n = label_components(m)
    assert n == 3
    assert labels[m == 0].sum() == 0
    assert int(labels.max()) == 3
    # U-shape (concave, touching) is a single component.
    u = np.zeros((6, 6), dtype=np.uint8)
    u[1:5, 1] = 1
    u[4, 1:5] = 1
    u[1:5, 4] = 1
    _, n_u = label_components(u)
    assert n_u == 1


def test_summed_features_two_rectangles():
    # The Benkrid perimeter of an axis-aligned w×h rectangle runs through
    # the border pixel centres: 2(w-1) + 2(h-1).
    m = np.zeros((12, 20), dtype=np.uint8)
    m[2:6, 2:8] = 1     # 6×4 → area 24, perimeter 16
    m[8:11, 10:15] = 1  # 5×3 → area 15, perimeter 12
    s = roi_features_ref(m)
    assert s["numBlobs"] == 2.0
    assert s["summedArea"] == 39.0
    assert s["summedPerimeter"] == 28.0
    # the ratio is the largest blob's, not the summed family's
    assert s["Area_over_Perimeter"] == 24.0 / 16.0


def test_hog_properties():
    from ifcb_data_pipeline_spark.operators.kernels import hog_features

    # Vertical step edge: gradients point in +x → angle 0, which lands
    # in the middle signed bin [-π/9, π/9) = bin 4 of the reference's
    # 9-sector layout.
    img = np.zeros((30, 30), dtype=np.uint8)
    img[:, 15:] = 200
    v = np.array(hog_features(img))
    assert len(v) == 81
    windows = v.reshape(9, 9)
    assert windows[4].argmax() == 4  # center window, 0°-sector
    # per-window normalization is ‖H‖/(‖H‖+0.01) < 1
    norms = np.linalg.norm(windows, axis=1)
    assert np.all(norms < 1.0)
    assert norms.max() > 0.9  # edge windows carry real energy
    # Uniform image: interior gradients are zero; only the zero-padded
    # border (a real property of the reference's constant-mode
    # correlation) contributes, so the center window stays zero.
    flat = np.array(hog_features(np.full((30, 30), 7, dtype=np.uint8)))
    assert np.all(flat.reshape(9, 9)[4] == 0)
    assert flat.sum() > 0  # border windows see the pad step


def test_ringwedge_properties():
    from ifcb_data_pipeline_spark.operators.kernels import ringwedge_features

    yy, xx = np.mgrid[:40, :40]
    disk = (xx - 20) ** 2 + (yy - 20) ** 2 <= 14 * 14
    rw = ringwedge_features(disk, size=301)
    assert len(rw["Ring"]) == 50 and len(rw["Wedge"]) == 48
    # wedges are normalized by their own power integral
    assert sum(rw["Wedge"]) == pytest.approx(1.0, rel=1e-9)
    assert all(x >= 0 for x in rw["Wedge"])
    assert 0 <= rw["RWcenter2total_powerratio"] <= 1
    # the smaller fast-path canvas keeps the layout (odd dim required)
    rw65 = ringwedge_features(disk, size=65)
    assert len(rw65["Ring"]) == 50 and len(rw65["Wedge"]) == 48
    assert sum(rw65["Wedge"]) == pytest.approx(1.0, rel=1e-9)
    # Horizontal-stripe mask: power concentrates along the vertical
    # frequency axis → the wedge containing 90° dominates.
    stripes = np.zeros((40, 40), dtype=bool)
    stripes[::4, :] = True
    rw_s = ringwedge_features(stripes, size=301)
    wedges = np.array(rw_s["Wedge"])
    dominant_angle = (wedges.argmax() + 0.5) / 48 * 180
    assert 60 <= dominant_angle <= 120


def test_ringwedge_even_size_rejected():
    """Even FFT canvases produce an opaque broadcast error deep in the
    half-plane vstack; the guard must turn that into an immediate
    ValueError."""
    import numpy as np

    from ifcb_data_pipeline_spark.operators.kernels import ringwedge_features

    mask = np.zeros((8, 8), dtype=bool)
    mask[2:6, 2:6] = True
    with pytest.raises(ValueError, match="odd"):
        ringwedge_features(mask, size=64)
    # the odd default still works
    out = ringwedge_features(mask, size=65)
    assert len(out["Ring"]) == 50 and len(out["Wedge"]) == 48


def test_fill_holes_and_small_blob_removal():
    from ifcb_data_pipeline_spark.operators.kernels import (
        fill_holes,
        remove_small_blobs,
    )

    ring = np.zeros((20, 20), dtype=np.uint8)
    ring[5:15, 5:15] = 1
    ring[8:12, 8:12] = 0  # hole
    filled = fill_holes(ring)
    assert filled[10, 10]  # hole closed
    specks = np.zeros((20, 20), dtype=np.uint8)
    specks[1:3, 1:3] = 1          # 4 px — removed
    specks[5:15, 5:15] = 1        # 100 px — kept
    out = remove_small_blobs(specks, min_area=40)
    assert not out[1, 1] and out[10, 10]


def test_symmetry_square_vs_asymmetric():
    from ifcb_data_pipeline_spark.operators.kernels import symmetry_features

    square = np.zeros((30, 30), dtype=np.uint8)
    square[5:25, 5:25] = 1
    s = symmetry_features(square)
    # binary symmetry is an overlap RATIO (reference form): a square is
    # symmetric under 180°, 90° and mirror, so ratios are near 1.
    assert s["symmetry_b180"] > 0.9
    assert s["symmetry_b90"] > 0.9
    assert s["symmetry_bflip"] > 0.9
    lshape = np.zeros((30, 30), dtype=np.uint8)
    lshape[5:25, 5:10] = 1
    lshape[20:25, 5:25] = 1
    a = symmetry_features(lshape)
    assert a["symmetry_b90"] < s["symmetry_b90"]  # L is less 90°-symmetric
    # the Hausdorff family is a DISTANCE: larger = less symmetric
    assert a["symmetry_h90"] > s["symmetry_h90"]


def test_biovolume_sphere_and_cylinder():
    r = 20
    v = largest_blob_features(disk_mask(r))
    assert v["BiovolumeBranch"] == "sor"
    assert v["Biovolume"] == pytest.approx(4 / 3 * math.pi * r**3, rel=0.05)
    # mean column width of a disk: area / columns = πr²/(2r+1) ≈ πr/2
    assert v["RepresentativeWidth"] == pytest.approx(math.pi * r / 2, rel=0.05)
    # A w×h rectangle revolves into a cylinder: length w, diameter h.
    w, h = 40, 10
    c = largest_blob_features(rect_mask(w, h))
    assert c["BiovolumeBranch"] == "sor"
    assert c["Biovolume"] == pytest.approx(math.pi / 4 * h**2 * w, rel=0.05)


# --- U4: Benkrid perimeter + seeded PRNG pairwise stats ---------------------


def test_simple_prng_reference_sequence():
    """The PRNG is fully specified by the reference (random.py:5-26):
    x ← (30203·x) mod 29663 from seed 1, output mod n, Fortran-order
    reshape.  Recompute the stream independently here."""
    from ifcb_data_pipeline_spark.operators.kernels import simple_prng

    expected, x = [], 1
    for _ in range(8):
        x = (x * 30203) % 29663
        expected.append(x % 100)
    assert simple_prng(100, shape=8).tolist() == expected
    # Fortran-order reshape: element (i, j) is stream index j*rows + i.
    m = simple_prng(29663, shape=(3, 2))
    stream, x = [], 1
    for _ in range(6):
        x = (x * 30203) % 29663
        stream.append(x)
    assert m[:, 0].tolist() == stream[0:3]
    assert m[:, 1].tolist() == stream[3:6]


def test_benkrid_perimeter_matches_independent_reimplementation():
    """Spec check: per-pixel 3×3 coding (center + 2·orth + 10·diag) with
    the published weight table, written here as a direct per-pixel loop."""
    from ifcb_data_pipeline_spark.operators.kernels import (
        benkrid_perimeter,
        perimeter_image,
    )

    rng = np.random.RandomState(7)
    weights = {5: 1.0, 7: 1.0, 15: 1.0, 17: 1.0, 25: 1.0, 27: 1.0,
               21: math.sqrt(2), 33: math.sqrt(2),
               13: (1 + math.sqrt(2)) / 2, 23: (1 + math.sqrt(2)) / 2}
    for _ in range(5):
        mask = (rng.rand(20, 20) > 0.5).astype(np.uint8)
        border = perimeter_image(mask).astype(int)
        p = np.pad(border, 1)
        expect = 0.0
        for y in range(1, 21):
            for x in range(1, 21):
                code = (
                    p[y, x]
                    + 2 * (p[y - 1, x] + p[y + 1, x] + p[y, x - 1] + p[y, x + 1])
                    + 10 * (p[y - 1, x - 1] + p[y - 1, x + 1]
                            + p[y + 1, x - 1] + p[y + 1, x + 1])
                )
                expect += weights.get(code, 0.0)
        assert benkrid_perimeter(border) == pytest.approx(expect)


def test_benkrid_perimeter_disk_close_to_circumference():
    from ifcb_data_pipeline_spark.operators.kernels import (
        benkrid_perimeter,
        perimeter_image,
    )

    r = 25
    per = benkrid_perimeter(perimeter_image(disk_mask(r)))
    assert per == pytest.approx(2 * math.pi * r, rel=0.1)


def test_perimeter_pair_stats_deterministic_and_scaled():
    from ifcb_data_pipeline_spark.operators.kernels import perimeter_pair_stats

    s1 = perimeter_pair_stats(disk_mask(15))
    s2 = perimeter_pair_stats(disk_mask(15))
    assert s1 == s2  # seeded PRNG ⇒ bit-identical reruns
    # Distances are normalized by equiv diameter ⇒ scale-free stats:
    # a disk of twice the radius produces (approximately) the same mean.
    s3 = perimeter_pair_stats(disk_mask(30))
    assert s1["perimeter_mean"] == pytest.approx(s3["perimeter_mean"], rel=0.05)
    assert 0 < s1["perimeter_mean"] < 2.0
    assert s1["perimeter_kurtosis"] > 0


# --- U5: distance transform + distance-map biovolume ------------------------


def test_distance_transform_exact_vs_bruteforce():
    from ifcb_data_pipeline_spark.operators.kernels import distance_transform

    rng = np.random.RandomState(3)
    for _ in range(4):
        feat = rng.rand(15, 17) > 0.9
        if not feat.any():
            feat[7, 8] = True
        got = distance_transform(feat)
        ys, xs = np.nonzero(feat)
        yy, xx = np.mgrid[:15, :17]
        brute = np.sqrt(
            ((yy[..., None] - ys) ** 2 + (xx[..., None] - xs) ** 2).min(axis=-1)
        )
        assert np.allclose(got, brute)


def test_biovolume_distmap_models_ribbon_as_cylinder():
    """The Moberg & Sosik distance-map estimator treats the distance
    transform as the local half-thickness — on a thin w×h ribbon it must
    reproduce the cylinder (diameter h, length w): volume π/4·h²·w,
    lateral surface π·h·w, representative width ≈ h."""
    from ifcb_data_pipeline_spark.operators.kernels import biovolume_distmap

    for w, h in [(60, 12), (80, 10)]:
        dm = biovolume_distmap(rect_mask(w, h))
        assert dm["Biovolume"] == pytest.approx(math.pi / 4 * h * h * w, rel=0.10)
        assert dm["SurfaceArea"] == pytest.approx(math.pi * h * w, rel=0.05)
        assert dm["RepresentativeWidth"] == pytest.approx(h, rel=0.10)


def test_biovolume_branches_agree_on_disk():
    """Branch agreement on a convex shape (the rationale for the
    selection rule, all.py:225-234).  SoR is exact for solids of
    revolution; the ribbon-calibrated distance map comes in low on a
    sphere — which is exactly why the rule routes compact shapes to SoR."""
    from ifcb_data_pipeline_spark.operators.kernels import biovolume_distmap

    r = 20
    sphere = 4 / 3 * math.pi * r**3
    sor = biovolume_sor_raster(disk_mask(r).astype(bool))
    dm = biovolume_distmap(disk_mask(r))
    assert sor["Biovolume"] == pytest.approx(sphere, rel=0.05)
    assert dm["Biovolume"] == pytest.approx(sphere, rel=0.25)
    assert dm["SurfaceArea"] == pytest.approx(4 * math.pi * r**2, rel=0.20)


def test_biovolume_auto_branch_selection():
    # Disk: area_ratio ≈ 1 < 1.2 → solid of revolution.
    assert largest_blob_features(disk_mask(15))["BiovolumeBranch"] == "sor"
    # Thin L: concave (area_ratio ≥ 1.2) and eccentric → distance map.
    lshape = np.zeros((60, 60), dtype=np.uint8)
    lshape[5:55, 5:9] = 1
    lshape[51:55, 5:55] = 1
    assert largest_blob_features(lshape)["BiovolumeBranch"] == "distmap"


# --- U1 (full): phase congruency + reference segmentation chain -------------


def test_phase_congruency_localizes_step_edge():
    from ifcb_data_pipeline_spark.operators.phasecong import phase_congruency_Mm

    img = np.full((64, 64), 200.0)
    img[:, 32:] = 40.0  # vertical step edge at column 32
    # Tiny deterministic 2-D ripple: a PURE 1-D spectrum would zero
    # three orientations' energy exactly and the published bare
    # division then NaNs the map (see test_pure_1d_image_is_nan below);
    # real ROIs always have 2-D content.
    yy, xx = np.mgrid[:64, :64]
    img += 0.5 * np.sin(yy * 0.9) * np.cos(xx * 1.3)
    pc = phase_congruency_Mm(img)
    # Peak response concentrated at the edge (±2 px), low far from it.
    edge_band = pc[8:-8, 30:35].mean()
    flat = pc[8:-8, 5:20].mean()
    assert edge_band > 5 * flat
    # Interior columns only: the FFT's periodic boundary makes the frame
    # itself a (real) step edge, so argmax over the full row may hit it.
    col_of_max = 5 + np.argmax(pc[32, 5:60])
    assert 30 <= col_of_max <= 33


def test_pure_1d_image_is_nan_and_segmentation_falls_back():
    """Published phasecong (bare division, phasepack form): an image
    with an exactly 1-D spectrum (pure vertical step) zeroes three
    orientations' total amplitude, so 0/0 NaNs the whole map.  The
    segmentation chain must then ride the k-means dark-mask union
    instead of crashing or returning garbage."""
    from ifcb_data_pipeline_spark.operators.kernels import segment_roi_pc
    from ifcb_data_pipeline_spark.operators.phasecong import phase_congruency_Mm

    img = np.full((64, 64), 200.0)
    img[:, 32:] = 40.0
    pc = phase_congruency_Mm(img)
    assert np.isnan(pc).all()
    mask = segment_roi_pc(img.astype(np.uint8))
    assert mask[10:50, 40:60].mean() > 0.9  # dark half recovered via k-means
    assert not mask[10:50, :25].any()


def test_phase_congruency_contrast_invariant():
    """PC is a phase (not amplitude) measure — doubling the contrast
    must leave the response essentially unchanged."""
    from ifcb_data_pipeline_spark.operators.phasecong import phase_congruency_Mm

    rng = np.random.RandomState(5)
    base = rng.rand(48, 48) * 20 + 100
    base[16:32, 16:32] -= 60
    a = phase_congruency_Mm(base)
    b = phase_congruency_Mm(base * 2.0)
    assert np.corrcoef(a.ravel(), b.ravel())[0, 1] > 0.99


def test_kmeans_dark_mask_bimodal():
    from ifcb_data_pipeline_spark.operators.kernels import kmeans_dark_mask

    img = np.full((40, 40), 220, dtype=np.uint8)
    img[10:30, 10:30] = 35  # dark organism on bright background
    m = kmeans_dark_mask(img)
    assert m[15:25, 15:25].all()
    assert not m[:5, :].any()


def test_bwmorph_thin_reduces_strokes():
    from ifcb_data_pipeline_spark.operators.kernels import bwmorph_thin

    bar = np.zeros((20, 20), dtype=bool)
    bar[8:13, 2:18] = True  # 5-px-thick horizontal bar
    thin = bwmorph_thin(bar, 3)
    assert thin.sum() < bar.sum() / 2  # substantially thinned
    assert thin.any()                  # but not erased
    # idempotent once reduced to a unit-width stroke
    line = np.zeros((9, 15), dtype=bool)
    line[4, 2:13] = True
    assert np.array_equal(bwmorph_thin(line, 2), line)


def test_segment_roi_pc_recovers_dark_organism():
    from ifcb_data_pipeline_spark.operators.kernels import segment_roi_pc

    img = np.full((64, 64), 210, dtype=np.uint8)
    yy, xx = np.mgrid[:64, :64]
    organism = (yy - 32) ** 2 + (xx - 32) ** 2 <= 14 * 14
    img[organism] = 50
    mask = segment_roi_pc(img)
    inside = organism & mask
    # Recovers most of the organism, little background leakage.
    assert inside.sum() > 0.8 * organism.sum()
    assert (mask & ~organism).sum() < 0.2 * organism.sum()


# --- U11: MATLAB-parity blob rotation + raster SoR --------------------------


def test_rotation_exact_at_quarter_turns():
    from ifcb_data_pipeline_spark.operators.rotation import (
        center_blob,
        imrotate_nearest_crop,
    )

    rect = center_blob(rect_mask(14, 6))
    r0 = imrotate_nearest_crop(rect, 0.0)
    assert np.array_equal(r0, rect)  # identity at 0°
    r90 = imrotate_nearest_crop(rect, 90.0)
    ys, xs = np.nonzero(r90)
    # 90° turn: width/height swap exactly, area preserved exactly.
    assert (ys.max() - ys.min() + 1, xs.max() - xs.min() + 1) == (14, 6)
    assert r90.sum() == rect.sum()
    r360 = imrotate_nearest_crop(rect, 360.0)
    assert np.array_equal(r360, rect)


def test_rotation_preserves_area_and_aligns_major_axis():
    yy, xx = np.mgrid[:80, :80]
    th = np.radians(25)
    u = (xx - 40) * np.cos(th) + (yy - 40) * np.sin(th)
    v = -(xx - 40) * np.sin(th) + (yy - 40) * np.cos(th)
    ellipse = ((u / 28) ** 2 + (v / 9) ** 2 <= 1).astype(np.uint8)
    rotated = rotate_blob(ellipse, explicit_orientation(ellipse))
    assert abs(explicit_orientation(rotated)) < 2.0  # major axis horizontal
    assert rotated.sum() == pytest.approx(ellipse.sum(), rel=0.03)


def test_raster_sor_matches_analytic_on_revolution_solids():
    r = 20
    sphere = biovolume_sor_raster(disk_mask(r).astype(bool))
    assert sphere["Biovolume"] == pytest.approx(4 / 3 * math.pi * r**3, rel=0.05)
    assert sphere["SurfaceArea"] == pytest.approx(4 * math.pi * r**2, rel=0.10)
    w, h = 40, 10
    cyl = biovolume_sor_raster(rect_mask(w, h).astype(bool))
    assert cyl["Biovolume"] == pytest.approx(math.pi / 4 * h**2 * w, rel=0.05)
    # End-to-end with rotation: a tilted ellipse ≈ prolate spheroid
    # 4/3·π·a·b² regardless of its original orientation.
    yy, xx = np.mgrid[:90, :90]
    th = np.radians(35)
    u = (xx - 45) * np.cos(th) + (yy - 45) * np.sin(th)
    v = -(xx - 45) * np.sin(th) + (yy - 45) * np.cos(th)
    a, b = 30, 11
    ellipse = ((u / a) ** 2 + (v / b) ** 2 <= 1).astype(np.uint8)
    out = biovolume_sor_raster(rotate_blob(ellipse, explicit_orientation(ellipse)))
    assert out["Biovolume"] == pytest.approx(4 / 3 * math.pi * a * b * b, rel=0.08)


def test_mm2_full_chain_branch_selection(spark):
    """The default features_from_images path runs U1 pc-segmentation and
    the U5 shape-adaptive biovolume: on the deterministic synthetic ROIs
    both branches must be exercised, and U9/U10 descriptors present."""
    from ifcb_data_pipeline_spark.operators.multimodal import explode_bins_to_rois

    bins = spark.createDataFrame(
        [("b%d" % i, 12) for i in range(4)], "sample string, n_rois int"
    )
    rows = features_from_images(explode_bins_to_rois(bins)).collect()
    assert len(rows) == 48
    branches = {r["BiovolumeBranch"] for r in rows}
    assert branches <= {"sor", "distmap", "none"}
    assert "sor" in branches and "distmap" in branches, branches
    for r in rows[:5]:
        assert len(r["hog"]) == 81
        assert len(r["ringwedge"]) == 50 + 48 + 1


# --- codec round-trip properties (hypothesis) -------------------------------
from hypothesis import given, settings
from hypothesis import strategies as hst
from hypothesis.extra.numpy import arrays as h_arrays

from ifcb_data_pipeline_spark.operators.image_codec import (
    decode_image,
    encode_pgm,
    resize_nearest,
)


@settings(max_examples=50, deadline=None)
@given(
    h_arrays(
        dtype="uint8",
        shape=hst.tuples(
            hst.integers(min_value=1, max_value=24),
            hst.integers(min_value=1, max_value=24),
        ),
    )
)
def test_pgm_roundtrip_lossless(img):
    """encode_pgm -> decode_image is the identity for ANY uint8 image —
    the contract every multimodal operator (mm1-mm9) leans on when it
    re-encodes between pipeline stages."""
    out = decode_image(encode_pgm(img))
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert (out == img).all()


@settings(max_examples=50, deadline=None)
@given(
    h_arrays(
        dtype="uint8",
        shape=hst.tuples(
            hst.integers(min_value=1, max_value=24),
            hst.integers(min_value=1, max_value=24),
        ),
    ),
    hst.integers(min_value=1, max_value=16),
    hst.integers(min_value=1, max_value=16),
)
def test_resize_nearest_samples_source_pixels(img, oh, ow):
    """Every output pixel of the floor-mapping resize is an actual source
    pixel at the documented index — no interpolation, no out-of-range."""
    out = resize_nearest(img, oh, ow)
    h, w = img.shape
    assert out.shape == (oh, ow)
    for y in range(oh):
        for x in range(ow):
            assert out[y, x] == img[(y * h) // oh, (x * w) // ow]


def test_speck_blobs_are_sanitized_not_nan():
    """INTENTIONAL DEVIATION pin (ADVICE r16): the reference's np.cov on
    a 1-2 pixel blob is NaN/undefined, but all.py never sees specks in
    production (segmentation's min-blob-41 gate).  roi_features_ref
    called on an unsegmented mask CAN see them, and sanitizes to finite
    zeros instead of letting NaN poison the summed-feature epilogue."""
    from ifcb_data_pipeline_spark.operators.kernels import ellipse_properties_cov

    one = np.zeros((7, 7), dtype=bool)
    one[3, 3] = True
    assert ellipse_properties_cov(one) == (0.0, 0.0, 0.0)
    two = one.copy()
    two[3, 4] = True
    maj, mn, ecc = ellipse_properties_cov(two)
    assert np.isfinite([maj, mn, ecc]).all()
    # full chain over a mask containing a speck next to a real blob:
    # every exported value stays finite (NaN only via the documented
    # zero->NaN ratio semantics, which this mask does not trigger)
    mask = np.zeros((20, 20), dtype=bool)
    mask[2:10, 2:10] = True
    mask[15, 15] = True
    feats = roi_features_ref(mask)
    for k, v in feats.items():
        if isinstance(v, float):
            assert np.isfinite(v), k


def test_phase_congruency_brightness_shift_invariant():
    """The log-Gabor bank zeroes DC, so a constant brightness shift
    changes nothing but FFT rounding — machine-precision invariance on
    an odd grid (round-17 property pin for the one U1 stage the golden
    family fixtures can't reference-execute; phasepack is external)."""
    from ifcb_data_pipeline_spark.operators.phasecong import phase_congruency_Mm

    rng = np.random.RandomState(7)
    img = rng.rand(49, 49) * 30 + 110
    img[14:34, 18:40] -= 55
    a = phase_congruency_Mm(img)
    b = phase_congruency_Mm(img + 37.0)
    assert np.abs(a - b).max() <= 1e-12 * max(a.max(), 1.0)


def test_phase_congruency_rot90_equivariant():
    """norient=6 covers 30-degree steps, so a 90-degree image rotation
    permutes the orientation set onto itself and the covariance moments
    must rotate with the image.  Machine-exact on odd grids; even grids
    carry the asymmetric-Nyquist-bin artifact (~1e-3 relative), which
    is a property of the standard frequency grid, not a bug — both
    regimes pinned."""
    from ifcb_data_pipeline_spark.operators.phasecong import phase_congruency_Mm

    rng = np.random.RandomState(11)
    odd = rng.rand(49, 49) * 40 + 100
    odd[10:30, 20:44] -= 60
    a = phase_congruency_Mm(odd)
    b = phase_congruency_Mm(np.rot90(odd))
    assert np.abs(b - np.rot90(a)).max() <= 1e-12 * max(a.max(), 1.0)
    even = rng.rand(48, 48) * 40 + 100
    even[10:30, 20:44] -= 60
    c = phase_congruency_Mm(even)
    d = phase_congruency_Mm(np.rot90(even))
    rel = np.abs(d - np.rot90(c)).max() / max(c.max(), 1.0)
    assert rel < 5e-3  # Nyquist-bin asymmetry band, pinned


def test_chain_schema_covers_slim_v4_export():
    """features_from_images' schema carries the COMPLETE slim-v4
    production export set — the 30 FEATURE_COLUMNS of the reference's
    extract_slim_features.py:16-47 — so a user of the reference's slim
    CSV pipeline can switch to the chain output column-for-column."""
    from ifcb_data_pipeline_spark.operators.kernels import (
        KERNEL_FEATURE_SCHEMA,
    )

    slim_v4 = [
        "Area", "Biovolume", "BoundingBox_xwidth", "BoundingBox_ywidth",
        "ConvexArea", "ConvexPerimeter", "Eccentricity", "EquivDiameter",
        "Extent", "MajorAxisLength", "MinorAxisLength", "Orientation",
        "Perimeter", "RepresentativeWidth", "Solidity", "SurfaceArea",
        "maxFeretDiameter", "minFeretDiameter", "numBlobs", "summedArea",
        "summedBiovolume", "summedConvexArea", "summedConvexPerimeter",
        "summedMajorAxisLength", "summedMinorAxisLength",
        "summedPerimeter", "summedSurfaceArea",
        "Area_over_PerimeterSquared", "Area_over_Perimeter",
        "summedConvexPerimeter_over_Perimeter",
    ]
    # DDL string has only simple `name type` fields plus array<double>
    # (no nested commas inside names), so split on top-level commas
    fields = {
        part.strip().split()[0]
        for part in KERNEL_FEATURE_SCHEMA.replace("array<double>", "ARR").split(",")
    }
    missing = [c for c in slim_v4 if c not in fields]
    assert not missing, missing
