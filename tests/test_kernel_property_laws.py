"""Property laws for the reference-exact kernel families.

The golden family fixtures pin 13 panel cases bit-for-bit; these
hypothesis suites pin the INVARIANTS that must hold for arbitrary
inputs — the guard against a future edit that keeps the panel green but
breaks a regime the panel never visits.  Every law is a mathematical
property of the reference's own forms, not of our implementation
choices.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ifcb_data_pipeline_spark.operators import kernels as K


@st.composite
def random_image_and_mask(draw, min_side=12, max_side=40):
    h = draw(st.integers(min_side, max_side))
    w = draw(st.integers(min_side, max_side))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    # blob mask: a random ellipse so it is nonempty and non-degenerate
    cy = draw(st.integers(h // 4, 3 * h // 4))
    cx = draw(st.integers(w // 4, 3 * w // 4))
    ry = draw(st.integers(2, max(2, h // 3)))
    rx = draw(st.integers(2, max(2, w // 3)))
    yy, xx = np.mgrid[:h, :w]
    mask = ((yy - cy) / ry) ** 2 + ((xx - cx) / rx) ** 2 <= 1.0
    if not mask.any():
        mask[cy, cx] = True
        mask[cy, min(cx + 1, w - 1)] = True
        mask[min(cy + 1, h - 1), cx] = True
    return img, mask


@settings(max_examples=40, deadline=None)
@given(random_image_and_mask())
def test_texture_stats_ranges(im):
    img, mask = im
    t = K.texture_stats(img, mask)
    assert 0.0 <= t["texture_average_gray_level"] <= 255.0
    assert t["texture_average_contrast"] >= 0.0
    assert 0.0 <= t["texture_smoothness"] < 1.0
    # uniformity of a normalized histogram is in (0, 1]
    assert 0.0 < t["texture_uniformity"] <= 1.0
    # entropy >= -eps artifact, <= log2(nbins)
    assert -1e-9 <= t["texture_entropy"] <= 8.0 + 1e-9


@settings(max_examples=40, deadline=None)
@given(random_image_and_mask())
def test_hog_window_norm_bound(im):
    img, _ = im
    v = np.array(K.hog_features(img)).reshape(9, 9)
    assert np.all(v >= 0.0)
    # per-window normalization ||H||/(||H|| + 0.01) is strictly < 1
    assert np.all(np.linalg.norm(v, axis=1) < 1.0)


@settings(max_examples=25, deadline=None)
@given(random_image_and_mask())
def test_ringwedge_normalization(im):
    _, mask = im
    rw = K.ringwedge_features(mask, size=65)
    wedges = np.array(rw["Wedge"])
    rings = np.array(rw["Ring"])
    assert np.all(wedges >= 0.0) and np.all(rings >= 0.0)
    # wedges normalized by their own integral
    assert abs(wedges.sum() - 1.0) < 1e-9
    assert 0.0 <= rw["RWcenter2total_powerratio"] <= 1.0


@settings(max_examples=40, deadline=None)
@given(random_image_and_mask())
def test_binary_symmetry_is_a_ratio(im):
    _, mask = im
    rotated = K.rotated_largest_blob(mask)
    b180, b90, bflip = K.binary_symmetry(rotated)
    for v in (b180, b90, bflip):
        assert 0.0 <= v <= 1.0
    h180, h90, hflip = K.hausdorff_symmetry(rotated)
    for v in (h180, h90, hflip):
        assert v >= 0.0 and np.isfinite(v)


@settings(max_examples=30, deadline=None)
@given(random_image_and_mask())
def test_pair_stats_kurtosis_skewness_inequality(im):
    """For ANY distribution, Pearson kurtosis >= skewness² + 1 (biased
    moments) — a law of the reference's scipy-form statistics."""
    _, mask = im
    p = K.perimeter_pair_stats(mask)
    if p["perimeter_mean"] == 0.0:
        return
    assert p["perimeter_kurtosis"] >= p["perimeter_skewness"] ** 2 + 1 - 1e-9
    assert p["perimeter_mean"] > 0.0
    assert p["perimeter_median"] >= 0.0


@settings(max_examples=40, deadline=None)
@given(random_image_and_mask())
def test_thinning_only_deletes(im):
    _, mask = im
    thin = K.bwmorph_thin(mask, 3)
    assert not np.any(thin & ~mask)  # subset of the input


@settings(max_examples=25, deadline=None)
@given(random_image_and_mask())
def test_kmeans_dark_mask_brightest_is_background(im):
    """The unconditional law of kmeans_segment's threshold extension:
    threshold = 0.75·min(background) < max(image) whenever the image is
    non-flat, so the BRIGHTEST pixel is always re-classified (or stays)
    background — it can never be foreground.  (The dual 'darkest pixel
    is always foreground' is NOT a law: on bright images the 0.75
    threshold can fall below the global minimum.)"""
    img, _ = im
    m = K.kmeans_dark_mask(img)
    if img.min() == img.max():
        return
    assert not m[img == img.max()].any()
    # and the mask is monotone in intensity at its boundary value:
    # anything strictly brighter than a kept pixel's value CAN be kept
    # or dropped, but everything at or below the darkest KEPT value in
    # the mask's complement must exceed the threshold — weak sanity:
    # foreground, when present, is darker on average than background
    if m.any() and (~m).any():
        assert img[m].mean() <= img[~m].mean()


@settings(max_examples=30, deadline=None)
@given(random_image_and_mask())
def test_hu_moments_translation_invariance(im):
    _, mask = im
    base = K.hu_moments(mask)
    shifted = K.hu_moments(np.pad(mask, ((3, 0), (5, 0))))
    for a, b in zip(base, shifted):
        if a == 0.0 and b == 0.0:
            continue
        assert abs(a - b) <= 1e-6 * max(abs(a), abs(b), 1e-12)
