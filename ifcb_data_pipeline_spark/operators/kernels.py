"""Per-image feature kernels in pure numpy — SURVEY §2.9 U1-U12.

Real implementations of the reference's per-ROI feature surface using
only numpy (the reference computes them with skimage/scipy:
``ifcb_features/segmentation.py:117-186``,
``blob_geometry.py:22-208``, ``perimeter.py:24-104``,
``texture.py:9-69``, ``hog.py:8-57``, ``ringwedge.py:13-108``,
``biovolume.py:56-158``; formulas are standard image-moment /
computational-geometry / spectral math).  U1 is the reference's
phase-congruency segmentation chain (:func:`segment_roi_pc`, with the
phase-congruency map in :mod:`.phasecong`).  The U4 surface carries the
MATLAB-parity pieces the reference specifies exactly: the Benkrid
weighted perimeter, the shared ``(30203·x) mod 29663`` PRNG, and the
PRNG-subsampled pairwise-distance stats.  U5 implements BOTH biovolume
branches (solid-of-revolution over the raster rotated by U11,
:mod:`.rotation`, and Moberg & Sosik distance-map, float32 column-major
deterministic accumulation) with the reference's ``area_ratio/ecc/p``
selection rule.  The chain is certified bit-for-bit against fixtures
made by executing the reference's own Python
(``tests/test_golden_*_parity.py``), except the values that go through
``np.linalg`` (HOG, the ellipse minor axis and eccentricity), which
match within stated ulp bounds because BLAS/LAPACK kernels differ by
CPU; bit-parity with historical MATLAB datasets would additionally
require golden data made by MATLAB itself.

All functions take a binary mask / grayscale image as a 2-D numpy array
and return plain floats — deterministic, vectorizable inside the
Arrow-batched ``mapInPandas`` kernel (:func:`features_from_images`).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd


# --- U7: texture statistics ------------------------------------------------

def matlab_prctile(arr: np.ndarray, ps) -> np.ndarray:
    """MATLAB ``prctile`` (the reference's weighted interpolation form,
    ``texture.py:9-34``): sorted values at plotting positions
    ``100·(i+0.5)/n`` blended by triangular weights of width ``100/n``."""
    ap = np.asarray(arr).flatten().copy()
    ap.sort()
    n = ap.size
    pcts = 100 * (np.linspace(0.5, n - 0.5, n) / n)
    ps = np.asarray(ps)
    if ps.ndim == 0:
        ps = ps.reshape(-1)
    out = np.zeros(ps.size)
    for ix, p in enumerate(ps):
        if p < pcts[0]:
            out[ix] = ap[0]
        elif p > pcts[-1]:
            out[ix] = ap[-1]
        else:
            d = pcts - p
            weights = 1.0 - np.abs(d / (100.0 / n))
            weights *= weights > 0
            out[ix] = np.sum(weights * ap)
    return out


def contrast_enhanced_pixels(img: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """The reference's ``texture_pixels`` (``texture.py:37-42``): stretch
    the [p1, p99] percentile band of the image to [0, 1] (skimage
    ``img_as_float`` = ×(1/255); ``rescale_intensity`` = clip then
    scale), re-quantize to 0..255 by rounding, and select masked
    pixels."""
    p1, p99 = matlab_prctile(img, (1, 99))
    x = img * (1.0 / 255.0)
    imin, imax = p1 / 255.0, p99 / 255.0
    x = np.clip(x, imin, imax)
    if imin != imax:
        x = (x - imin) / (imax - imin)
    else:
        x = np.clip(x, 0.0, 1.0)
    E = np.round(x * 255.0)
    return E[np.where(mask)]


def _scipy_moment3(a: np.ndarray) -> float:
    """Third central moment with scipy.stats.moment's exact op sequence
    (exponentiation by squaring: ``s = x²; s *= x``) — the last-ulp
    matters for reference parity."""
    a0 = a - a.mean()
    s = a0.copy()
    s = s**2
    s *= a0
    return float(np.mean(s))


def texture_stats(img: np.ndarray, mask: np.ndarray) -> dict[str, float]:
    """statxture over the contrast-enhanced masked pixels — the
    reference's exact form (``texture.py:45-69``, wired per
    ``all.py:377-407``): statistics on the 0..255 scale, a 256-bin
    histogram spanning the pixel min..max (skimage
    ``exposure.histogram`` float path), smoothness/third-moment
    normalized by (L-1)²."""
    keys = (
        "texture_average_gray_level", "texture_average_contrast",
        "texture_smoothness", "texture_third_moment",
        "texture_uniformity", "texture_entropy",
    )
    if not mask.any():
        return dict.fromkeys(keys, 0.0)
    P = contrast_enhanced_pixels(img, mask)
    average_gray_level = np.mean(P)
    average_contrast = np.std(P)
    H = np.histogram(P, bins=256)[0]
    H = H / (1.0 * len(P))
    L = len(H)
    d = (L - 1.0) ** 2
    normvar = np.var(P) / d
    smoothness = 1.0 - 1.0 / (1.0 + normvar)
    third_moment = _scipy_moment3(P) / d
    uniformity = np.sum(H**2)
    eps = np.finfo(float).eps
    entropy = 0.0 - np.sum(H * np.log2(H + eps))
    return {
        "texture_average_gray_level": float(average_gray_level),
        "texture_average_contrast": float(average_contrast),
        "texture_smoothness": float(smoothness),
        "texture_third_moment": float(third_moment),
        "texture_uniformity": float(uniformity),
        "texture_entropy": float(entropy),
    }


# --- U8: Hu invariant moments ---------------------------------------------

def hu_moments(mask: np.ndarray) -> list[float]:
    """φ1-φ7 scale/translation/rotation-invariant moments in the
    reference's exact summation form (``blob_geometry.py:88-143``,
    Digital Image Processing Using MATLAB ch. 11): 1-based meshgrid
    coordinates over the FULL image, raw/central moments as full-array
    ``np.sum`` with zero weights on background pixels — the summation
    order (not just the formulas) is what makes the values bit-equal."""
    if not np.any(mask):
        return [0.0] * 7
    B = np.array(mask).astype(np.float64)
    M, N = B.shape
    x, y = np.meshgrid(np.arange(1, N + 1), np.arange(1, M + 1))
    x = x.ravel()
    y = y.ravel()
    F = B.ravel()

    def m(p, q):
        xp = 1 if p == 0 else x**p
        yq = 1 if q == 0 else y**q
        return np.sum(xp * yq * F)

    m00 = m(0, 0)
    x_ = x - (m(1, 0) / m00)
    y_ = y - (m(0, 1) / m00)
    mu_x = [1, x_] + [x_**p for p in (2, 3)]
    mu_y = [1, y_] + [y_**p for p in (2, 3)]

    def mu(p, q):
        return np.sum(mu_x[p] * mu_y[q] * F)

    mu00 = mu(0, 0)

    def eta(p, q):
        gamma = (p + q) / 2.0 + 1.0
        return mu(p, q) / mu00**gamma

    n20, n02, n11 = eta(2, 0), eta(0, 2), eta(1, 1)
    n30, n03 = eta(3, 0), eta(0, 3)
    n21, n12 = eta(2, 1), eta(1, 2)
    phi1 = n20 + n02
    phi2 = (n20 - n02) ** 2 + 4 * n11**2
    phi3 = (n30 - 3 * n12) ** 2 + (3 * n21 - n03) ** 2
    phi4 = (n30 + n12) ** 2 + (n21 + n03) ** 2
    phi5 = (n30 - 3 * n12) * (n30 + n12) * (
        (n30 + n12) ** 2 - 3 * (n21 + n03) ** 2
    ) + (3 * n21 - n03) * (n21 + n03) * (3 * (n30 + n12) ** 2 - (n21 + n03) ** 2)
    phi6 = (n20 - n02) * ((n30 + n12) ** 2 - (n21 + n03) ** 2) + 4 * n11 * (
        n30 + n12
    ) * (n21 + n03)
    phi7 = (3 * n21 - n03) * (n30 + n12) * (
        (n30 + n12) ** 2 - 3 * (n21 + n03) ** 2
    ) - (n30 - 3 * n12) * (n21 + n03) * (3 * (n30 + n12) ** 2 - (n21 + n03) ** 2)
    return [phi1, phi2, phi3, phi4, phi5, phi6, phi7]


# --- mapInPandas wrapper ---------------------------------------------------

# roi_features_ref keys exported through the schema — the COMPLETE
# slim-v4 production set (extract_slim_features.py:16-47) plus the
# branch tag, every value reference-chain-certified
_KERNEL_FEATURE_COLS = frozenset(
    {
        "Area", "EquivDiameter", "Extent", "MajorAxisLength",
        "MinorAxisLength", "Eccentricity", "Orientation",
        "BoundingBox_xwidth", "BoundingBox_ywidth", "ConvexArea",
        "ConvexPerimeter", "maxFeretDiameter", "minFeretDiameter",
        "Perimeter", "Solidity", "Biovolume", "RepresentativeWidth",
        "SurfaceArea", "BiovolumeBranch", "numBlobs", "summedArea",
        "summedBiovolume", "summedConvexArea", "summedConvexPerimeter",
        "summedMajorAxisLength", "summedMinorAxisLength",
        "summedPerimeter", "summedSurfaceArea",
        "Area_over_PerimeterSquared", "Area_over_Perimeter",
        "summedConvexPerimeter_over_Perimeter",
    }
)

KERNEL_FEATURE_SCHEMA = (
    "sample string, roi_number int, Area double, EquivDiameter double,"
    " Extent double, MajorAxisLength double, MinorAxisLength double,"
    " Eccentricity double, Orientation double, BoundingBox_xwidth double,"
    " BoundingBox_ywidth double, ConvexArea double,"
    " ConvexPerimeter double, maxFeretDiameter double,"
    " minFeretDiameter double, Perimeter double, Solidity double,"
    " texture_average_gray_level double, texture_average_contrast double,"
    " texture_smoothness double, texture_third_moment double,"
    " texture_uniformity double, texture_entropy double,"
    " Biovolume double, RepresentativeWidth double, SurfaceArea double,"
    " BiovolumeBranch string,"
    " perimeter_mean double, perimeter_median double,"
    " perimeter_skewness double, perimeter_kurtosis double,"
    " numBlobs double, summedArea double, summedBiovolume double,"
    " summedConvexArea double, summedConvexPerimeter double,"
    " summedMajorAxisLength double, summedMinorAxisLength double,"
    " summedPerimeter double, summedSurfaceArea double,"
    " Area_over_PerimeterSquared double, Area_over_Perimeter double,"
    " summedConvexPerimeter_over_Perimeter double,"
    " symmetry_b180 double, symmetry_b90 double, symmetry_bflip double,"
    " symmetry_h180 double, symmetry_h90 double, symmetry_hflip double,"
    " moment_invariants array<double>, hog array<double>,"
    " ringwedge array<double>"
)


# U10's FFT canvas on the kernel path.
# PARITY NOTE (ADVICE r17): Ring/Wedge values are reference-certified
# ONLY at size=301 — the reference's kaccie masks are pinned to a 301
# canvas regardless of input dim (``ringwedge.py:79``).  65 is a
# profiling shape for the tiny synthetic panel payloads (mm1/mm2/mm2b/mm6
# bake their oracles at the same 65), NOT a parity value: a
# production-parity export needs 301 here (must stay odd).
RINGWEDGE_SIZE = 65


def features_from_images(rois):
    """Real U1-U12 features over ROI byte images.

    Runs the reference's full chain: U1 phase-congruency segmentation
    (:func:`segment_roi_pc`) → U2/U3 geometry → U4 Benkrid perimeter +
    pair stats → U5 shape-adaptive biovolume (U11 rotation inside the
    SoR branch) → U6 symmetry → U7 texture → U8 Hu moments → U9 HOG →
    U10 ring/wedge on a :data:`RINGWEDGE_SIZE` canvas → U12
    summed-over-blobs.  Arrow-batched; one python call per batch, numpy
    inside.

    Family forms are the reference's exact estimators, certified
    bit-for-bit against reference-executed fixtures in
    tests/test_golden_family_parity.py (U6/U7/U9/U10 + U4 pair stats +
    U8 invariant moments) and tests/test_golden_chain_parity.py (the
    U2/U3/U5/U11/U12 geometry chain)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .image_codec import decode_image

        for pdf in batches:
            rows = []
            for sample, roi, blob, w, h in zip(
                pdf["sample"], pdf["roi_number"], pdf["image"], pdf["width"], pdf["height"]
            ):
                img = decode_image(bytes(blob), w, h)
                mask = segment_roi_pc(img)
                # compute_features-faithful chain (all.py:446-545): the
                # largest blob's cov-form ellipse / Heron hull / Feret /
                # cropped bbox / branch-selected biovolume + the summed
                # family — reference-certified bit-for-bit in
                # tests/test_golden_chain_parity.py.
                blobs = find_blobs_sorted(mask)
                ref = roi_features_ref(mask, blobs)
                tex = texture_stats(img, mask)
                sym = symmetry_features(mask, blobs)
                if mask.any():
                    # the reference transforms the segmented MASK, not
                    # the grayscale image (all.py:409-418)
                    rw = ringwedge_features(mask, size=RINGWEDGE_SIZE)
                    ring_wedge = [
                        *rw["Ring"], *rw["Wedge"], rw["RWcenter2total_powerratio"],
                    ]
                else:
                    ring_wedge = [0.0] * 99
                rows.append(
                    {
                        "sample": sample,
                        "roi_number": int(roi),
                        **{
                            k: v
                            for k, v in ref.items()
                            if k in _KERNEL_FEATURE_COLS
                        },
                        **tex,
                        **perimeter_pair_stats(mask, blobs=blobs),
                        **sym,  # b180/b90/bflip + h180/h90/hflip
                        "moment_invariants": hu_moments(mask),
                        "hog": hog_features(img),
                        "ringwedge": ring_wedge,
                    }
                )
            yield pd.DataFrame(rows)

    return rois.mapInPandas(kernel, schema=KERNEL_FEATURE_SCHEMA)


# --- connected components (enables U12 summed-over-blobs features) ---------

# Neighbours a pixel takes its label from, as (dy, dx): the 4-neighbourhood,
# plus the diagonals for 8-connectivity.
_NEIGHBOURS_4 = ((-1, 0), (1, 0), (0, -1), (0, 1))
_NEIGHBOURS_8 = _NEIGHBOURS_4 + ((-1, -1), (-1, 1), (1, -1), (1, 1))


def _label(mask: np.ndarray, neighbours) -> tuple[np.ndarray, int]:
    """Exact connected-component labeling by min-label propagation.

    Every on-pixel starts as its own row-major linear index; background
    holds the sentinel ``h·w``, above every index.  Each pass lowers
    every on-pixel to the minimum over its neighbours, in place, through
    slice views built once (``np.minimum(dst, src, out=dst, where=on)``),
    then jumps each label to its target's label.  A label is always the
    index of a pixel in the same component, so the passes reach a fixed
    point where every component carries its first pixel's index.
    Compacting those roots gives labels 1..n in first-pixel (row-major)
    order, 0 = background."""
    m = np.asarray(mask).astype(bool)
    h, w = m.shape
    if not m.any():
        return np.zeros((h, w), dtype=np.int32), 0
    n_px = h * w
    # flat[n_px] is the sentinel's own slot, so jumping leaves it fixed.
    flat = np.full(n_px + 1, n_px, dtype=np.int64)
    on = m.ravel()
    flat[:n_px][on] = np.flatnonzero(on)
    lab = flat[:n_px].reshape(h, w)
    views = []
    for dy, dx in neighbours:
        dst = (slice(max(-dy, 0), h - max(dy, 0)), slice(max(-dx, 0), w - max(dx, 0)))
        src = (slice(max(dy, 0), h - max(-dy, 0)), slice(max(dx, 0), w - max(-dx, 0)))
        views.append((lab[dst], lab[src], m[dst]))
    prev = np.empty_like(flat)
    while True:
        np.copyto(prev, flat)
        for dst, src, where in views:
            np.minimum(dst, src, out=dst, where=where)
        flat[:] = flat[flat]
        if np.array_equal(prev, flat):
            break
    roots = np.unique(lab[m])
    out = np.zeros((h, w), dtype=np.int32)
    out[m] = np.searchsorted(roots, lab[m]) + 1
    return out, len(roots)


def label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected component labeling (skimage.measure.label equivalent).
    Returns (labels, n_components); labels are 1..n in first-pixel
    (row-major) order, 0 = background."""
    return _label(mask, _NEIGHBOURS_4)


def label_components_8(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """8-connected variant of :func:`label_components` (the reference's
    ``find_blobs`` labels with EIGHT connectivity, ``blobs.py:7-10``)."""
    return _label(mask, _NEIGHBOURS_8)


# --- U9: HOG (histogram of oriented gradients) -----------------------------

def correlate_constant(img: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """2-D correlation, zero-padded borders, centered kernel — the
    scipy.ndimage.correlate(mode='constant') semantics the reference's
    HOG gradients rely on (``hog.py:26-30``).  Accumulates one kernel
    tap at a time in row-major kernel order, matching scipy's C loop so
    float sums are bit-equal."""
    W = np.asarray(weights)
    kh, kw = W.shape
    ph, pw = kh // 2, kw // 2
    P = np.pad(np.asarray(img), ((ph, ph), (pw, pw)))
    h, w = img.shape
    out = np.zeros((h, w), dtype=np.result_type(img, W))
    for dy in range(kh):
        for dx in range(kw):
            wv = W[dy, dx]
            if wv != 0:
                out += wv * P[dy : dy + h, dx : dx + w]
    return out


def hog_features(img: np.ndarray, cells: int = 3, bins: int = 9) -> list[float]:
    """The reference's MATLAB-heritage windowed HOG, exact form
    (``hog.py:8-57``): [-1,0,1] correlation gradients, SIGNED
    orientations binned into 9 sectors of (-π, π] (the first bin is an
    open catch-all below -π+2π/9), 3×3 OVERLAPPING windows of size
    2·⌊dim/4⌋, each window's 9-bin magnitude histogram normalized by
    (‖H‖+0.01) — 81 values, window-major."""
    nwin_x, nwin_y, B = cells, cells, bins
    L, C = img.shape
    H = np.zeros((nwin_x * nwin_y, B))
    Im = img.astype(np.float64)
    step_x = int(np.floor(C / (nwin_x + 1)))
    step_y = int(np.floor(L / (nwin_y + 1)))
    hx = np.array([[-1, 0, 1]], dtype=np.float64)
    grad_xr = correlate_constant(Im, hx)
    grad_yu = correlate_constant(Im, np.rot90(hx))
    angles = np.arctan2(grad_yu, grad_xr)
    magnit = np.sqrt(grad_yu**2 + grad_xr**2)
    cont = 0
    ang_high = np.linspace(0 - np.pi + 2 * np.pi / B, np.pi, B)
    ang_low = np.roll(ang_high, 1)
    ang_low[0] = np.min(ang_high) - 999.0
    for n in range(nwin_y):
        for mw in range(nwin_x):
            v_angles = angles[
                n * step_y : (n + 2) * step_y, mw * step_x : (mw + 2) * step_x
            ].ravel()
            v_magnit = magnit[
                n * step_y : (n + 2) * step_y, mw * step_x : (mw + 2) * step_x
            ].ravel()
            H2 = np.zeros(B)
            for b in range(B):
                sel = np.logical_and(v_angles >= ang_low[b], v_angles < ang_high[b])
                H2[b] += np.sum(v_magnit[sel])
            H2 /= np.linalg.norm(H2) + 0.01
            H[cont, :] = H2
            cont += 1
    return [float(v) for v in H.ravel()]


# --- U10: ring/wedge FFT power spectrum ------------------------------------

_RW_MASK_CACHE: dict[tuple, object] = {}


def _rw_unit_circle(dim: int):
    key = ("unit", dim)
    if key not in _RW_MASK_CACHE:
        I = np.linspace(-1, 1, dim)
        X, Y = np.meshgrid(I, I)
        r = np.sqrt(X**2 + Y**2)
        theta = np.arctan2(Y, X)
        _RW_MASK_CACHE[key] = (r, theta)
    return _RW_MASK_CACHE[key]


def _rw_ring_mask(i: int, dim: int, n_rings: int) -> np.ndarray:
    """Kaccie Li's ring mask (``ringwedge.py:37-47``): 3·df-wide annuli
    on the 1/6.45 µm⁻¹ frequency grid, inner radius stepped by
    ``(c-3)·df/(n_rings-1)``."""
    key = ("ring", i, dim, n_rings)
    if key not in _RW_MASK_CACHE:
        c = dim // 2
        df = (1.0 / dim) * (1 / 6.45)
        f = np.linspace(-0.5 / 6.45, 0.5 / 6.45, dim + 1)[:dim]
        X, Y = np.meshgrid(f, f)
        r = np.sqrt(X**2 + Y**2)
        inner_rad = (i / (n_rings - 1.0)) * (c - 3) * df
        outer_rad = (i / (n_rings - 1.0)) * (c - 3) * df + (3 * df)
        out = np.zeros((dim, dim), dtype=bool)
        out[(r > inner_rad) & (r < outer_rad)] = 1
        _RW_MASK_CACHE[key] = out
    return _RW_MASK_CACHE[key]


def _rw_wedge_mask(i: int, dim: int, n_wedges: int) -> np.ndarray:
    """Adjacent π/n_wedges pie slices of the unit circle
    (``ringwedge.py:50-59``), with the reference's vertical-strip XOR
    correction on the middle wedge."""
    key = ("wedge", i, dim, n_wedges)
    if key not in _RW_MASK_CACHE:
        r, th = _rw_unit_circle(dim)
        wedge = (r <= 1) & (th > i * np.pi / n_wedges) & (th <= (i + 1) * np.pi / n_wedges)
        if i == (n_wedges // 2) - 1:
            wedge = np.logical_xor(wedge, th == np.pi / 2)
        _RW_MASK_CACHE[key] = wedge
    return _RW_MASK_CACHE[key]


def _rw_filter_masks(dim: int):
    """Center/inverse masks at radius 15·df (``ringwedge.py:70-77``)."""
    key = ("filter", dim)
    if key not in _RW_MASK_CACHE:
        df = (1.0 / (dim - 1)) / 6.45
        I = np.linspace(-0.5 / 6.45, 0.5 / 6.45, dim)
        Y, X = np.meshgrid(I, I)
        R = np.sqrt(X**2 + Y**2)
        filt = R > 15 * df
        _RW_MASK_CACHE[key] = (np.invert(filt), filt)
    return _RW_MASK_CACHE[key]


def bilinear_zoom(arr: np.ndarray, out_shape: tuple[int, int]) -> np.ndarray:
    """scipy.ndimage.zoom(order=1, grid_mode=False) semantics: endpoint
    aligned coordinates ``in = out·(n_in-1)/(n_out-1)``, order-1 spline
    weights (1-t, t), support points accumulated in scipy's C loop
    order ``Σ v·(wy·wx)`` over (iy, ix) row-major."""
    h, w = arr.shape
    oh, ow = out_shape
    ys = np.arange(oh) * ((h - 1) / (oh - 1)) if oh > 1 else np.zeros(1)
    xs = np.arange(ow) * ((w - 1) / (ow - 1)) if ow > 1 else np.zeros(1)
    y0 = np.minimum(np.floor(ys).astype(np.int64), h - 1)
    x0 = np.minimum(np.floor(xs).astype(np.int64), w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    ty = ys - y0
    tx = xs - x0
    wy = ((1.0 - ty)[:, None], ty[:, None])
    wx = ((1.0 - tx)[None, :], tx[None, :])
    iy = (y0, y1)
    jx = (x0, x1)
    out = np.zeros((oh, ow), dtype=np.float64)
    for a in (0, 1):
        for b in (0, 1):
            out += arr[np.ix_(iy[a], jx[b])] * (wy[a] * wx[b])
    return out


def ringwedge_features(
    mask: np.ndarray, size: int = 301, n_rings: int = 50, n_wedges: int = 48
) -> dict[str, object]:
    """The reference's ring/wedge transform, exact form
    (``ringwedge.py:79-108``, wired on the segmented MASK per
    ``all.py:409-418``): |FFT|² of the blob mask, bilinearly zoomed to a
    ``size``×``size`` canvas, bottom-half power integrated through the
    Kaccie ring/wedge masks (wedges exclude the 15·df center), all
    normalized by the wedge power integral.  ``size`` must be odd (the
    reference's 301; the fast chain path uses 65)."""
    if size % 2 == 0:
        raise ValueError(
            "ringwedge size must be odd (the bottom-half mask vstack "
            f"needs a center row; got {size})"
        )
    image = np.asarray(mask)
    dim = size
    amp_trans = np.fft.fftshift(np.fft.fft2(image))
    int_trans = np.real(amp_trans * np.conj(amp_trans))
    int_trans = bilinear_zoom(int_trans, (dim, dim))
    cmask, filt = _rw_filter_masks(dim)
    filter_img = cmask * int_trans
    inner_int = np.sum(filter_img)
    total_int = np.sum(int_trans)
    pwr_ratio = inner_int / total_int
    wedge_int_trans = int_trans * filt
    half = np.vstack(
        (np.zeros(((dim // 2) + 1, dim)), np.ones((dim // 2, dim)))
    ).astype(bool)
    wedge_half = wedge_int_trans * half
    ring_half = int_trans * half
    wedge_vector = np.array(
        [np.sum(_rw_wedge_mask(i, dim, n_wedges) * wedge_half) for i in range(n_wedges)]
    )
    ring_vector = np.array(
        [np.sum(_rw_ring_mask(i, dim, n_rings) * ring_half) for i in range(n_rings)]
    )
    pwr_integral = np.sum(wedge_vector)
    wedges = wedge_vector / pwr_integral
    rings = ring_vector / pwr_integral
    return {
        "RWhalfpowerintegral": float(pwr_integral),
        "RWcenter2total_powerratio": float(pwr_ratio),
        "Ring": [float(x) for x in rings],
        "Wedge": [float(x) for x in wedges],
    }


# --- U1 helpers: hole fill, hysteresis, small-blob removal -----------------

def fill_holes(mask: np.ndarray) -> np.ndarray:
    """Fill enclosed background regions (holes = inverse components not
    touching the border)."""
    inv = ~mask.astype(bool)
    # Pad with background=True so the outer background is one component
    # holding the first pixel, label 1; every higher label is a hole.
    labels, _ = label_components(np.pad(inv, 1, constant_values=True))
    return mask.astype(bool) | (labels[1:-1, 1:-1] > 1)


def hysteresis(weak: np.ndarray, strong: np.ndarray) -> np.ndarray:
    """Keep weak components containing at least one strong pixel — the
    fixpoint of the reference's iterative EIGHT-connected dilation growth
    (``morphology.py:22-36``: strong seeds grown through the weak set)."""
    labels, n = label_components_8(weak)
    keep = np.zeros(n + 1, dtype=bool)
    keep[labels[strong.astype(bool)]] = True
    keep[0] = False
    return keep[labels]


def remove_small_blobs(mask: np.ndarray, min_area: int = 40) -> np.ndarray:
    """MATLAB ``bwareaopen`` as the reference applies it
    (``segmentation.py:141-153``): 8-connected components below
    ``min_area`` pixels are dropped."""
    labels, _ = label_components_8(mask)
    keep = np.bincount(labels.ravel(), minlength=1) >= min_area
    keep[0] = False
    return keep[labels]


# --- U1: phase-congruency segmentation chain -------------------------------

def _shift_or(mask: np.ndarray, offsets: list[tuple[int, int]]) -> np.ndarray:
    """OR of the mask shifted by each (dy, dx) — generic dilation core."""
    h, w = mask.shape
    out = np.zeros_like(mask, dtype=bool)
    for dy, dx in offsets:
        ys = slice(max(dy, 0), h + min(dy, 0))
        xs = slice(max(dx, 0), w + min(dx, 0))
        yt = slice(max(-dy, 0), h + min(-dy, 0))
        xt = slice(max(-dx, 0), w + min(-dx, 0))
        out[yt, xt] |= mask[ys, xs]
    return out


def _diamond_offsets(r: int) -> list[tuple[int, int]]:
    return [
        (dy, dx)
        for dy in range(-r, r + 1)
        for dx in range(-r, r + 1)
        if abs(dy) + abs(dx) <= r
    ]


def dilate_diamond(mask: np.ndarray, r: int) -> np.ndarray:
    return _shift_or(mask.astype(bool), _diamond_offsets(r))


def erode_diamond(mask: np.ndarray, r: int) -> np.ndarray:
    return ~_shift_or(~mask.astype(bool), _diamond_offsets(r))


def close_diamond(mask: np.ndarray, r: int) -> np.ndarray:
    """Binary closing with a diamond SE, padded so dilation cannot clip
    at the frame (the reference pads by 2 before closing,
    ``segmentation.py:173-175``)."""
    padded = np.pad(mask.astype(bool), r + 1)
    return erode_diamond(dilate_diamond(padded, r), r)[r + 1 : -(r + 1), r + 1 : -(r + 1)]


def _thin_luts() -> tuple[np.ndarray, np.ndarray]:
    """The two 256-entry deletion LUTs of MATLAB's ``bwmorph(thin)``
    (Lam, Lee & Suen 1992 conditions G1/G2/G3 and G3′), derived at
    import from the published conditions.  Neighbor bit layout: bit 0 =
    E, then counterclockwise (1=NE, 2=N, 3=NW, 4=W, 5=SW, 6=S, 7=SE) —
    the reference's ``morphology.py:40-120`` encoding."""

    def bits_of(n):
        return [(n >> i) & 1 for i in range(8)]

    def G1(bits):
        s = 0
        for i in (0, 2, 4, 6):
            if not bits[i] and (bits[i + 1] or bits[(i + 2) % 8]):
                s += 1
        return s == 1

    def G2(bits):
        n1 = sum(1 for k in (1, 3, 5, 7) if bits[k] or bits[k - 1])
        n2 = sum(1 for k in (1, 3, 5, 7) if bits[k] or bits[(k + 1) % 8])
        return min(n1, n2) in (2, 3)

    def G3(bits):
        return not ((bits[1] or bits[2] or not bits[7]) and bits[0])

    def G3p(bits):
        return not ((bits[5] or bits[6] or not bits[3]) and bits[4])

    lut_a = np.zeros(256, dtype=bool)
    lut_b = np.zeros(256, dtype=bool)
    for n in range(256):
        b = bits_of(n)
        g12 = G1(b) and G2(b)
        lut_a[n] = g12 and G3(b)
        lut_b[n] = g12 and G3p(b)
    return lut_a, lut_b


_G123_LUT, _G123P_LUT = _thin_luts()

# Neighbor weight layout of the LUT index (N = Σ weight·neighbor):
# [[NW=8, N=4, NE=2], [W=16, ·, E=1], [SW=32, S=64, SE=128]].
_THIN_OFFSETS = (
    (1, (0, 1)), (2, (-1, 1)), (4, (-1, 0)), (8, (-1, -1)),
    (16, (0, -1)), (32, (1, -1)), (64, (1, 0)), (128, (1, 1)),
)


def bwmorph_thin(mask: np.ndarray, n_iter: int = 1) -> np.ndarray:
    """MATLAB ``bwmorph(B, 'thin', n)`` parity — the reference's
    two-subiteration LUT thinning (``morphology.py:122-131``): each pass
    codes every pixel's 8-neighborhood and deletes pixels whose code
    hits the G123 (then G123′) LUT."""
    skel = np.asarray(mask).astype(bool)
    h, w = skel.shape
    for _ in range(n_iter):
        for lut in (_G123_LUT, _G123P_LUT):
            code = np.zeros((h, w), dtype=np.int64)
            p = np.pad(skel, 1)
            for weight, (dy, dx) in _THIN_OFFSETS:
                code += weight * p[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
            skel = skel & ~lut[code]
    return skel


def kmeans_1d_matlab(values: np.ndarray, max_iter: int = 100):
    """MATLAB-style batch 1-D 2-means, centers seeded at [0, 1] — the
    reference's strict parity port (``segmentation.py:20-115``), float32
    throughout with cumsum totals, singleton empty-cluster handoff, and
    tie-stays-put reassignment.  Returns (centers, labels)."""
    values = np.asarray(values, dtype=np.float32)
    n = values.shape[0]
    if n == 0:
        return np.array([0.0, 1.0], dtype=np.float32), np.zeros(0, dtype=np.int8)
    row_indices = np.arange(n)

    def cluster_center(idx, cluster):
        members = idx == cluster
        count = int(np.count_nonzero(members))
        if count == 0:
            return np.float32(np.nan), 0
        total = np.cumsum(values[members], dtype=np.float32)[-1]
        return np.float32(total / np.float32(count)), count

    def dist_col(center):
        delta = values - np.float32(center)
        return np.asarray(delta * delta, dtype=np.float32)

    centers = np.array([0.0, 1.0], dtype=np.float32)
    D = np.empty((n, 2), dtype=np.float32)
    D[:, 0] = dist_col(centers[0])
    D[:, 1] = dist_col(centers[1])
    idx = np.argmin(D, axis=1).astype(np.int8)

    changed = np.array([0, 1], dtype=np.int64)
    previdx = np.zeros(n, dtype=np.int8)
    prevtotsumD = np.float32(np.inf)

    for _ in range(max_iter):
        counts = np.bincount(idx, minlength=2).astype(np.int64)
        for c in changed:
            if counts[c] > 0:
                centers[c], counts[c] = cluster_center(idx, c)
        for c in changed:
            D[:, c] = dist_col(centers[c])

        empties = [c for c in changed if counts[c] == 0]
        if empties:
            d_assigned = D[row_indices, idx]
            for empty in empties:
                lonely = int(np.argmax(d_assigned))
                from_cluster = int(idx[lonely])
                if counts[from_cluster] < 2:
                    from_cluster = int(np.argmax(counts > 1))
                    lonely = int(np.argmax(idx == from_cluster))
                centers[empty] = values[lonely]
                idx[lonely] = empty
                counts[empty] = 1
                counts[from_cluster] -= 1
                D[:, empty] = dist_col(centers[empty])
                if counts[from_cluster] > 0:
                    centers[from_cluster], counts[from_cluster] = cluster_center(
                        idx, from_cluster
                    )
                D[:, from_cluster] = dist_col(centers[from_cluster])
                changed = np.unique(
                    np.concatenate([changed, np.array([from_cluster], dtype=np.int64)])
                )

        totsumD = np.cumsum(D[row_indices, idx], dtype=np.float32)[-1]
        if prevtotsumD <= totsumD:
            idx = previdx
            counts = np.bincount(idx, minlength=2).astype(np.int64)
            for c in changed:
                if counts[c] > 0:
                    centers[c], counts[c] = cluster_center(idx, c)
            break

        previdx = idx.copy()
        prevtotsumD = totsumD

        nidx = np.argmin(D, axis=1).astype(np.int8)
        dmin = D[row_indices, nidx]
        moved = np.where(nidx != previdx)[0]
        if moved.size:
            stay_mask = D[moved, previdx[moved]] > dmin[moved]
            moved = moved[stay_mask]
        if moved.size == 0:
            break
        idx[moved] = nidx[moved]
        changed = np.unique(np.concatenate([idx[moved], previdx[moved]]))

    return centers, idx.astype(np.int8)


def kmeans_dark_mask(img: np.ndarray, adjustment: float = 0.75) -> np.ndarray:
    """The reference's ``kmeans_segment`` (``segmentation.py:117-139``):
    strict 1-D 2-means over the [0,1] float32 image traversed in MATLAB
    column-major order, brighter cluster = background, background
    extended by the ``min(background)·0.75`` threshold; returns the
    non-background mask."""
    if img.dtype == np.uint8:
        r = img.astype(np.float32) / np.float32(255.0)
    else:
        r = img.astype(np.float32)
    values = r.reshape(-1, order="F")
    C, J = kmeans_1d_matlab(values, max_iter=100)
    C = C.reshape(-1)
    J = J.reshape(r.shape, order="F")
    bg_label = np.argmax(C)
    darkest_background = np.min(r[J == bg_label])
    threshold = darkest_background * adjustment
    J = J.copy()
    J[r > threshold] = bg_label
    return (J != bg_label).reshape(img.shape)


def segment_roi_pc(
    img: np.ndarray,
    t_strong: float = 0.3,
    t_weak: float = 0.09,
    min_area: int = 40,
) -> np.ndarray:
    """U1 full reference chain (``segmentation.py:157-186``): phase
    congruency (M+m) → hysteresis (T1=0.3, T2=0.09) → border trim →
    diamond-2 closing → thinning → 1-D k-means dark threshold (×0.75) →
    hole fill → erosion with min-blob acceptance → min-blob-40 filter."""
    from .phasecong import phase_congruency_Mm

    mm = phase_congruency_Mm(img)
    # Published phasecong divides bare (phasepack form): an image whose
    # spectrum is exactly 1-D (pure step edge, flat field) yields NaN,
    # which must read as below-threshold — the k-means union below then
    # carries the whole segmentation, as it would under the reference.
    with np.errstate(invalid="ignore"):
        b = hysteresis(mm > t_weak, mm > t_strong)
    # Trim frame pixels not backed by their inward neighbor.
    b[b[:, 1] == 0, 0] = 0
    b[b[:, -2] == 0, -1] = 0
    b[0, b[1, :] == 0] = 0
    b[-1, b[-2, :] == 0] = 0
    b = close_diamond(b, 2)
    b = bwmorph_thin(b, 3)
    b = b | kmeans_dark_mask(img)
    b = fill_holes(b)
    kept = remove_small_blobs(erode_diamond(b, 1), min_area + 1)
    if kept.any():
        return kept
    return remove_small_blobs(b, min_area + 1)


# --- U6: symmetry (binary overlap + modified Hausdorff, rotated blob) ------

def modified_hausdorff(a: np.ndarray, b: np.ndarray) -> float:
    """MHD (Dubuisson & Jain 1994, the reference's ``perimeter.py:77-94``):
    max of the two mean nearest-neighbor distances between point sets
    (N,2).  Brute-force exact NN — cKDTree's query(k=1) returns the same
    correctly-rounded Euclidean distances."""
    if len(a) == 0 or len(b) == 0:
        return float("inf")
    d2 = ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
    d_b_to_a = np.sqrt(d2.min(axis=0))  # per-b nearest in a
    d_a_to_b = np.sqrt(d2.min(axis=1))  # per-a nearest in b
    return float(max(np.mean(d_b_to_a), np.mean(d_a_to_b)))


def binary_symmetry(rotated: np.ndarray) -> tuple[float, float, float]:
    """b180/b90/bflip overlap ratios of the major-axis-aligned blob with
    its 180°/90° rotations and up/down mirror — the reference's exact
    form (``blob_geometry.py:210-225``; inputs are ``rotate_blob``
    squares so np.rot90 stays shape-compatible)."""
    B = np.asarray(rotated).astype(bool)
    area = np.sum(B)
    if area == 0:
        return 0.0, 0.0, 0.0

    def ss(D):
        return 1.0 * np.sum(np.logical_and(B, D)) / area

    return ss(np.rot90(B, 2)), ss(np.rot90(B)), ss(np.flipud(B))


def hausdorff_symmetry(rotated: np.ndarray) -> tuple[float, float, float]:
    """h180/h90/hflip: modified Hausdorff distances between the rotated
    blob's perimeter point set (centered on ``shape/2 - 1``) and its
    180°/90° rotations and major-axis mirror — the reference's exact
    wiring (``perimeter.py:96-104``)."""
    B = np.asarray(rotated).astype(bool)
    cy, cx = (np.array(B.shape) / 2.0) - 1
    by, bx = np.where(perimeter_image(B))
    if len(by) == 0:
        return 0.0, 0.0, 0.0
    P = np.vstack((by, bx)).T - [[cy, cx]]
    P90 = np.roll(P, 1, axis=1)
    P180 = P * -1
    Pfud = P * [[-1, 1]]
    h180, h90, hflip = (modified_hausdorff(P, Q) for Q in (P180, P90, Pfud))
    return h180, h90, hflip


def rotated_largest_blob(
    mask: np.ndarray, blobs: list[np.ndarray] | None = None
) -> np.ndarray | None:
    """The largest blob rotated so its major axis is horizontal — the
    input both symmetry families receive (``all.py:166-171, 276-316``).
    ``blobs`` is ``find_blobs_sorted(mask)`` when the caller has it."""
    from .rotation import rotate_blob

    if blobs is None:
        blobs = find_blobs_sorted(mask)
    if not blobs:
        return None
    blob = blobs[0]
    return rotate_blob(blob, explicit_orientation(blob))


def symmetry_features(
    mask: np.ndarray, blobs: list[np.ndarray] | None = None
) -> dict[str, float]:
    """U6 exports over the segmented mask: the reference's binary
    overlap ratios + modified-Hausdorff distances of the rotated largest
    blob (``all.py:276-316``).  ``blobs`` is ``find_blobs_sorted(mask)``
    when the caller has it."""
    rotated = rotated_largest_blob(mask, blobs)
    if rotated is None:
        return {
            "symmetry_b180": 0.0, "symmetry_b90": 0.0, "symmetry_bflip": 0.0,
            "symmetry_h180": 0.0, "symmetry_h90": 0.0, "symmetry_hflip": 0.0,
        }
    b180, b90, bflip = binary_symmetry(rotated)
    h180, h90, hflip = hausdorff_symmetry(rotated)
    return {
        "symmetry_b180": b180, "symmetry_b90": b90, "symmetry_bflip": bflip,
        "symmetry_h180": h180, "symmetry_h90": h90, "symmetry_hflip": hflip,
    }


# --- U4: Benkrid weighted perimeter + seeded-PRNG pairwise stats -----------

def perimeter_image(mask: np.ndarray) -> np.ndarray:
    """bwperim: on-pixels with at least one off 4-neighbor (the
    reference's ``find_perimeter`` Laplacian test,
    ``morphology.py:12-20``)."""
    m = mask.astype(bool)
    p = np.pad(m, 1)
    interior = p[:-2, 1:-1] & p[2:, 1:-1] & p[1:-1, :-2] & p[1:-1, 2:]
    return m & ~interior


# Neighborhood-code → edge-length weights of the Benkrid estimator
# (code = center + 2·#orthogonal-on + 10·#diagonal-on; only odd codes —
# on-pixels — carry weight).  Values match ``perimeter.py:24-38``.
_BENKRID_WEIGHTS: dict[int, float] = {
    5: 1.0, 7: 1.0, 15: 1.0, 17: 1.0, 25: 1.0, 27: 1.0,
    21: math.sqrt(2.0), 33: math.sqrt(2.0),
    13: (1.0 + math.sqrt(2.0)) / 2.0, 23: (1.0 + math.sqrt(2.0)) / 2.0,
}


def benkrid_perimeter(border: np.ndarray) -> float:
    """Benkrid weighted perimeter over a border (bwperim) image — the
    MATLAB-parity estimator the reference uses as the ``Perimeter``
    feature (``perimeter.py:24-38``): each border pixel's 3×3 on-pattern
    is coded (orthogonal neighbors ×2, diagonal ×10, center ×1) and
    mapped to a sub-pixel edge-length weight."""
    p = np.pad(border.astype(np.int64), 1)
    code = (
        p[1:-1, 1:-1]
        + 2 * (p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:])
        + 10 * (p[:-2, :-2] + p[:-2, 2:] + p[2:, :-2] + p[2:, 2:])
    )
    # Elementwise LUT + np.sum over the image-shaped array — the
    # reference's exact form (``perimeter.py:24-38``): np.sum's pairwise
    # accumulation order over the same values is what makes the result
    # bit-equal (a per-code grouped sum differs in the last ulp).
    lut = np.zeros(50, dtype=np.float64)
    for c, wgt in _BENKRID_WEIGHTS.items():
        lut[c] = wgt
    return float(np.sum(lut[np.clip(code, 0, lut.size - 1)]))


_PRNG_STREAMS: dict[int, np.ndarray] = {}


def _prng_stream(seed: int, size: int) -> np.ndarray:
    """Raw LCG stream for a seed (independent of n/shape) — cached, since
    every call with the default seed replays the same prefix."""
    cached = _PRNG_STREAMS.get(seed)
    if cached is None or len(cached) < size:
        length = max(size, 16384)
        vals = np.empty(length, dtype=np.int64)
        x = seed
        for j in range(length):
            x = (x * 30203) % 29663
            vals[j] = x
        _PRNG_STREAMS[seed] = cached = vals
    return cached[:size]


def simple_prng(n: int, seed: int = 1, shape: int | tuple[int, ...] = 1) -> np.ndarray:
    """Multiplicative LCG ``x ← (30203·x) mod 29663`` — the seeded PRNG
    the reference shares with MATLAB (``random.py:5-26``) so subsampled
    pairwise statistics reproduce historical feature values bit-for-bit.
    Returns values mod ``n`` reshaped in Fortran (MATLAB) order."""
    if isinstance(shape, int):
        shape = (shape,)
    size = 1
    for s in shape:
        size *= s
    return (_prng_stream(seed, size) % n).reshape(*shape, order="F")


def _scipy_skew_kurtosis(d: np.ndarray) -> tuple[float, float]:
    """Biased skewness and Pearson kurtosis with scipy.stats' exact op
    sequence (``_moment``'s exponentiation-by-squaring:
    m3 = mean((x²)·x), m4 = mean((x²)²)) — the reference calls
    scipy.stats.skew / kurtosis(fisher=False) (``perimeter.py:14-21``)."""
    a0 = d - d.mean()
    s2 = a0**2
    m2 = np.mean(s2)
    s3 = a0.copy()
    s3 = s3**2
    s3 *= a0
    m3 = np.mean(s3)
    s4 = a0**2
    s4 = s4**2
    m4 = np.mean(s4)
    return float(m3 / m2**1.5), float(m4 / m2**2.0)


def perimeter_pair_stats(
    mask: np.ndarray, max_n: int = 10000, blobs: list[np.ndarray] | None = None
) -> dict[str, float]:
    """U4 pairwise-distance stats in the reference's exact wiring
    (``perimeter.py:42-67``, ``all.py:253-275``): the LARGEST blob's
    perimeter points sorted by ``y·max(x) + x`` (crop coordinates),
    ``min(n², 10000)`` pairs drawn with the shared PRNG, distances
    normalized by that blob's equivalent diameter, summarized with
    scipy-form biased skewness / Pearson kurtosis.  ``blobs`` is
    ``find_blobs_sorted(mask)`` when the caller has it."""
    keys = (
        "perimeter_mean", "perimeter_median",
        "perimeter_skewness", "perimeter_kurtosis",
    )
    if blobs is None:
        blobs = find_blobs_sorted(mask)
    if not blobs:
        return dict.fromkeys(keys, 0.0)
    blob = blobs[0]
    border = perimeter_image(blob)
    points = np.where(border)
    n = len(points[0])
    area = int(blob.sum())
    if n == 0 or area == 0:
        return dict.fromkeys(keys, 0.0)
    equiv_d = float(np.sqrt(4.0 * area / np.pi))
    A = np.vstack(points).T
    six = np.argsort(np.sum(A * [np.max(A[:, 1]), 1], axis=1))
    pp = A[six, :]
    m = min(n**2, max_n)
    ix = simple_prng(n, shape=(m, 2))
    spp_a = pp[ix[:, 0], :]
    spp_b = pp[ix[:, 1], :]
    d = np.sqrt(np.sum((spp_a - spp_b) ** 2, axis=1)) / equiv_d
    mu = float(np.mean(d))
    skew, kurt = _scipy_skew_kurtosis(d)
    return {
        "perimeter_mean": mu,
        "perimeter_median": float(np.median(d)),
        "perimeter_skewness": skew,
        "perimeter_kurtosis": kurt,
    }


# --- U5: distance-map (Moberg & Sosik) and raster SoR biovolume ------------

def _edt_sq_1d(f: np.ndarray) -> np.ndarray:
    """1-D squared-distance transform (Felzenszwalb & Huttenlocher 2004
    lower-envelope-of-parabolas; published algorithm, standard form)."""
    n = len(f)
    d = np.empty(n)
    v = np.zeros(n, dtype=np.int64)
    z = np.empty(n + 1)
    k = 0
    z[0], z[1] = -np.inf, np.inf
    for q in range(1, n):
        s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2 * q - 2 * v[k])
        while s <= z[k]:
            k -= 1
            s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2 * q - 2 * v[k])
        k += 1
        v[k] = q
        z[k] = s
        z[k + 1] = np.inf
    k = 0
    for q in range(n):
        while z[k + 1] < q:
            k += 1
        d[q] = (q - v[k]) ** 2 + f[v[k]]
    return d


def distance_transform(feature: np.ndarray) -> np.ndarray:
    """Exact euclidean distance from every pixel to the nearest True
    pixel (MATLAB ``bwdist``), two-pass over columns then rows."""
    big = 1e18
    g = np.where(feature.astype(bool), 0.0, big)
    h, w = g.shape
    for j in range(w):
        g[:, j] = _edt_sq_1d(g[:, j])
    for i in range(h):
        g[i, :] = _edt_sq_1d(g[i, :])
    return np.sqrt(g)


def _f32_colmajor_sum(arr: np.ndarray) -> np.float32:
    """Sequential float32 accumulation in column-major order — the
    reference's MATLAB-parity deterministic sum (``biovolume.py:49-56``).
    ``ufunc.accumulate`` is defined as an in-order left fold, so with
    dtype float32 it reproduces the explicit loop bit-for-bit."""
    flat = arr.astype(np.float32).ravel(order="F")
    if flat.size == 0:
        return np.float32(0.0)
    return np.add.accumulate(flat, dtype=np.float32)[-1]


def _quad_surface_areas(
    X: np.ndarray, Y: np.ndarray, Z: np.ndarray, ignore_flat: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Split every grid cell of the surface (X, Y, Z) into two triangles
    and return their areas (0.5·‖cross‖) — the Moberg & Sosik surface
    integration (``biovolume.py:7-46``).  ``ignore_flat`` zeroes cells
    lying entirely on the ground plane."""
    P = np.stack([X, Y, Z], axis=-1)
    a = P[:-1, :-1]
    b = P[1:, :-1]
    c = P[:-1, 1:]
    d = P[1:, 1:]
    ab, ad, cd = a - b, a - d, c - d
    bot = 0.5 * np.sqrt((np.cross(ab, ad) ** 2).sum(axis=-1))
    top = 0.5 * np.sqrt((np.cross(cd, ad) ** 2).sum(axis=-1))
    if ignore_flat:
        flat = (
            np.abs(ab[..., 2]) + np.abs(ad[..., 2]) + np.abs(cd[..., 2]) + a[..., 2]
        ) == 0
        bot[flat] = 0.0
        top[flat] = 0.0
    return bot, top


def biovolume_distmap(mask: np.ndarray) -> dict[str, float]:
    """Moberg & Sosik distance-map biovolume (``biovolume.py:57-103``):
    the distance transform of the blob border (+1) approximates the
    half-thickness of the cell at every interior pixel; volume and
    surface area follow from calibrated sums over the filled region,
    accumulated in float32 column-major order for MATLAB parity."""
    border = perimeter_image(mask)
    if not border.any():
        return {"Biovolume": 0.0, "RepresentativeWidth": 0.0, "SurfaceArea": 0.0}
    D = distance_transform(border) + 1.0
    inside = fill_holes(border)
    # Deterministic masked sum / count (column-major selection keeps the
    # MATLAB accumulation order).
    vals = D.ravel(order="F")[inside.ravel(order="F")]
    cnt = vals.size
    if cnt == 0:
        return {"Biovolume": 0.0, "RepresentativeWidth": 0.0, "SurfaceArea": 0.0}
    acc = _f32_colmajor_sum(vals)
    mean32 = np.float32(acc / np.float32(cnt))
    x = np.float32(4.0) * mean32 - np.float32(2.0)
    c1 = (x**2) / (x**2 + np.float32(2.0) * x + np.float32(0.5))
    volume = np.float32(c1 * np.float32(math.pi / 2.0) * np.float32(2.0) * acc)
    # Surface area over the thickness surface (outside-fill → ground 0).
    Zs = np.where(inside, D, 0.0).astype(np.float32)
    h, w = Zs.shape
    Ys, Xs = np.mgrid[1 : h + 1, 1 : w + 1]
    bot, top = _quad_surface_areas(
        Xs.astype(np.float32), Ys.astype(np.float32), Zs, ignore_flat=True
    )
    c = (np.float32(math.pi) * x / np.float32(2.0)) / (
        np.float32(2.0) * np.float32(math.sqrt(2.0)) * x / np.float32(2.0)
        + (np.float32(1.0) + np.float32(math.sqrt(2.0))) / np.float32(2.0)
    )
    sa = np.float32(2.0) * np.float32(c) * np.float32(
        _f32_colmajor_sum(bot.astype(np.float32))
        + _f32_colmajor_sum(top.astype(np.float32))
    )
    return {
        "Biovolume": float(volume),
        "RepresentativeWidth": float(x),
        "SurfaceArea": float(sa),
    }


def biovolume_sor_raster(rotated: np.ndarray) -> dict[str, float]:
    """Sosik & Kilfoyle solid-of-revolution over a major-axis-aligned
    raster (``biovolume.py:105-158``): per-column radius = half the
    column pixel count, volume from conical-frustum slices
    ``Σ h/3·(b₁+b₂+√(b₁b₂))`` with half-pixel end adjustment, surface
    area from a 0.25°-step angular sweep of the revolved profile plus
    flat end caps."""
    b = np.asarray(rotated, dtype=bool)
    counts = b.sum(axis=0).astype(np.float64)
    on = counts > 0
    if not on.any():
        return {"Biovolume": 0.0, "RepresentativeWidth": 0.0, "SurfaceArea": 0.0}
    r = counts[on] / 2.0
    top_edge = np.argmax(b, axis=0).astype(np.float64)[on] + 1.0
    center = top_edge + r
    n = r.size
    x = np.arange(1, n + 1, dtype=np.float64)
    x[0] -= 0.5
    if n > 1:
        x[-1] += 0.5
    disc = math.pi * r**2
    if n > 1:
        seg = np.diff(x)
        volume = float(np.sum(seg / 3.0 * (disc[1:] + disc[:-1] + np.sqrt(disc[1:] * disc[:-1]))))
    else:
        volume = 0.0
    # surface sweep over 0..180° in 0.25° steps (other half by symmetry)
    ang = np.radians(np.arange(0.0, 180.0 + 0.125, 0.25))
    c_edge = center.copy()
    if n >= 2:
        c_edge[0] = c_edge[1]
        c_edge[-1] = c_edge[-2]
    Ys = c_edge[:, None] + np.cos(ang)[None, :] * r[:, None]
    Zs = np.sin(ang)[None, :] * r[:, None]
    Xs = np.repeat(x[:, None], ang.size, axis=1)
    bot, top_a = _quad_surface_areas(Xs, Ys, Zs)
    sa = 2.0 * (float(bot.sum()) + float(top_a.sum()))
    sa += float(math.pi * (r[0] ** 2 + r[-1] ** 2))
    return {
        "Biovolume": volume,
        "RepresentativeWidth": float(np.mean(2.0 * r)),
        "SurfaceArea": sa,
    }


# --- compute_features-faithful per-blob feature chain -----------------------
# The reference's exported features come from ``compute_features``
# (``ifcb_features/all.py:497-545``): the image is segmented, split into
# 8-connected blobs sorted largest-first (``blobs.py:13-30``), and the
# per-blob features are computed on the LARGEST blob's cropped mask with
# these exact estimator forms:
#   * ellipse axes/eccentricity — eig of np.cov of the on-pixel coords,
#     axes 4·sqrt(λ)                     (``blob_geometry.py:22-46``)
#   * orientation — MATLAB central-moment form, degrees, wrapped to
#     (-90, 90]                          (``blob_geometry.py:48-86``)
#   * convex hull — qhull vertices of the PERIMETER points; perimeter =
#     edge sum; area = Heron fan from the vertex centroid + perimeter/2
#     rasterization adjustment, with degenerate-hull fallbacks
#     (``blob_geometry.py:145-171``, ``all.py:81-97``)
#   * Feret diameters — 360×1° rotating sweep with the |cos|+|sin|
#     pixel-width correction          (``blob_geometry.py:193-208``)
#   * bounding box — of the blob ROTATED to its major axis
#     (``all.py:176-180``, ``blobs.py:137-149``)
#   * biovolume — the U5 branch rule with THESE inputs (area_ratio from
#     the Heron convex area, cov-form ecc/major) on the cropped blob
#     (``all.py:200-233``)
# These forms differ measurably from MATLAB regionprops (cov uses n-1
# where regionprops adds 1/12 to the moments; a shoelace hull area differs
# from the Heron+per/2 form by ~1) — certified against fixtures generated
# by EXECUTING the reference package (tests/test_golden_chain_parity.py).

def find_blobs_sorted(mask: np.ndarray) -> list[np.ndarray]:
    """Cropped single-component masks, 8-connected, sorted by
    (-area, bbox x0, bbox y0) — the reference's ``find_blobs`` order
    (``blobs.py:13-30``)."""
    labels, n = label_components_8(mask)
    blobs = []
    for i in range(1, n + 1):
        comp = labels == i
        ys, xs = np.nonzero(comp)
        y0, y1 = int(ys.min()), int(ys.max()) + 1
        x0, x1 = int(xs.min()), int(xs.max()) + 1
        blobs.append((-int(comp.sum()), x0, y0, comp[y0:y1, x0:x1]))
    blobs.sort(key=lambda t: t[:3])
    return [b for *_, b in blobs]


def ellipse_properties_cov(blob: np.ndarray) -> tuple[float, float, float]:
    """(major, minor, eccentricity) via the covariance eigendecomposition
    form (``blob_geometry.py:22-46``): axes are 4·sqrt of the
    eigenvalues of ``np.cov`` (sample covariance, n-1 divisor) of the
    on-pixel (row, col) coordinates.

    INTENTIONAL DEVIATION (adjudicated, ADVICE r16): blobs with < 2
    pixels return (0, 0, 0) where the reference's ``np.cov`` of a single
    point is NaN/undefined and would poison every downstream feature.
    The reference never reaches this case in production — its
    segmentation's min-blob-41 gate (``segmentation.py:141-153``) drops
    specks before ``all.py`` runs, and so does :func:`segment_roi_pc` —
    so the sanitized value only shows up when :func:`roi_features_ref`
    is called on an unsegmented mask, where a NaN row would be strictly
    worse at corpus scale.  Pinned by
    ``tests/test_kernels.py::test_speck_blobs_are_sanitized_not_nan``."""
    P = np.vstack(np.where(blob)).astype(np.float64)
    if P.shape[1] < 2:
        return 0.0, 0.0, 0.0
    eval_, _ = np.linalg.eig(np.cov(P))
    L = 4.0 * np.sqrt(eval_)
    maj, mn = float(np.max(L)), float(np.min(L))
    ecc = float(np.sqrt(1.0 - (mn / maj) ** 2)) if maj > 0 else 0.0
    return maj, mn, ecc


def explicit_orientation(blob: np.ndarray) -> float:
    """Blob orientation in degrees, MATLAB central-moment convention
    (``blob_geometry.py:48-86``): θ = −½·degrees(atan2(2µ11, µ20−µ02)),
    wrapped to (−90, 90].  The reference accumulates the moments in a
    sequential float64 fold over C-ravel order; ``np.add.accumulate`` is
    that fold, so the sums match bit-for-bit without the Python loop."""
    b = np.asarray(blob).astype(bool)
    if not b.any():
        return 0.0
    rows, cols = np.indices(b.shape, dtype=np.float64)
    x = (cols + 1.0).ravel(order="C")
    y = (rows + 1.0).ravel(order="C")
    f = b.astype(np.float64).ravel(order="C")

    def fold(arr: np.ndarray) -> np.float64:
        return np.add.accumulate(arr, dtype=np.float64)[-1]

    m00 = fold(f)
    if m00 == 0:
        return 0.0
    xbar = np.float64(fold(x * f) / m00)
    ybar = np.float64(fold(y * f) / m00)
    dx = x - xbar
    dy = y - ybar
    mu20 = fold(dx * dx * f)
    mu02 = fold(dy * dy * f)
    mu11 = fold(dx * dy * f)
    theta = np.float64(-0.5) * np.float64(
        np.degrees(np.arctan2(np.float64(2.0) * mu11, mu20 - mu02))
    )
    while theta > 90.0:
        theta = np.float64(theta - 180.0)
    while theta <= -90.0:
        theta = np.float64(theta + 180.0)
    return float(theta)


def hull_vertices_ref(points: np.ndarray) -> np.ndarray | None:
    """Extreme points of the integer point set in CCW order (collinear
    points excluded) — the unique hull vertex SET qhull returns
    (``all.py:81-88``); ``None`` for degenerate (<3 vertices or rank<2)
    inputs, which take the reference's fallback."""
    P = np.asarray(points)
    if len(P) < 3:
        return None
    order = np.lexsort((P[:, 1], P[:, 0]))

    def cross(o, a, b):
        return int(
            (P[a, 0] - P[o, 0]) * (P[b, 1] - P[o, 1])
            - (P[a, 1] - P[o, 1]) * (P[b, 0] - P[o, 0])
        )

    lower: list[int] = []
    for idx in order:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], idx) <= 0:
            lower.pop()
        lower.append(int(idx))
    upper: list[int] = []
    for idx in order[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], idx) <= 0:
            upper.pop()
        upper.append(int(idx))
    verts = lower[:-1] + upper[:-1]
    if len(verts) < 3:
        return None
    hull = P[np.array(verts, dtype=np.intp)].astype(np.float64)
    if np.linalg.matrix_rank(hull - hull[0]) < 2:
        return None
    return hull


def convex_hull_properties_ref(hull: np.ndarray) -> tuple[float, float]:
    """(perimeter, area) of the hull polygon: edge-length sum; Heron fan
    from the vertex centroid; + perimeter/2 rasterization adjustment
    (``blob_geometry.py:149-171``, operation-for-operation)."""
    ab = hull - np.roll(hull, 1, axis=0)
    C = np.sqrt(np.sum(ab**2, axis=1))
    perimeter = np.sum(C)
    center = np.mean(hull, axis=0)
    A = np.sqrt(np.sum((hull - center) ** 2, axis=1))
    B = np.roll(A, 1, axis=0)
    S = np.sum(np.vstack((A, B, C)), axis=0) / 2
    areas = np.sqrt(S * (S - A) * (S - B) * (S - C))
    area = np.sum(areas)
    area += perimeter / 2
    return float(perimeter), float(area)


# The Feret sweep's angles, 0° to -359° in 1° steps (the reference's
# per-angle loop, ``blob_geometry.py:193-208``).  cos/sin come from one
# scalar np.cos/np.sin call per angle, as in that loop, and
# |cosθ|+|sinθ| is summed per angle the same way.
_FERET_THETA = np.linspace(0, -359, 360) * (np.pi / 180.0)
_FERET_COS = np.array([np.cos(t) for t in _FERET_THETA])
_FERET_SIN = np.array([np.sin(t) for t in _FERET_THETA])
_FERET_DL = np.array([np.abs(c) + np.abs(s) for c, s in zip(_FERET_COS, _FERET_SIN)])


def feret_diameters_ref(hull: np.ndarray) -> tuple[float, float]:
    """(min, max) Feret diameter: 360×1° rotating projection sweep with
    the |cosθ|+|sinθ| pixel-width correction
    (``blob_geometry.py:193-208``), all angles as one ``(360, n)``
    projection whose every element takes the loop's IEEE operations."""
    y, x = hull.astype(np.float64).T
    x2 = x[None, :] * _FERET_COS[:, None] - y[None, :] * _FERET_SIN[:, None]
    # dl summed FIRST — the reference's grouping (a-b)+(c+d); the
    # left-associated a-b+c+d differs in the last ulp
    m = (x2.max(axis=1) - x2.min(axis=1)) + _FERET_DL
    return float(m.min()), float(m.max())


def blob_features_ref(blob: np.ndarray) -> dict[str, float]:
    """The 18 per-blob features of ``compute_features``
    (``all.py:497-521``) for ONE cropped single-component blob mask."""
    from .rotation import rotate_blob

    area = int(blob.sum())
    equiv_d = float(np.sqrt(4.0 * area / np.pi))
    border = perimeter_image(blob)
    perimeter = benkrid_perimeter(border)
    maj, mn, ecc = ellipse_properties_cov(blob)
    orientation = explicit_orientation(blob)
    pp = np.vstack(np.where(border)).T
    hull = hull_vertices_ref(pp) if len(pp) else None
    if hull is None:
        convex_per, convex_area = float(perimeter), float(area)
        feret_pts = pp.astype(np.float64) if len(pp) else np.zeros((1, 2))
        feret_min, feret_max = feret_diameters_ref(feret_pts)
    else:
        convex_per, convex_area = convex_hull_properties_ref(hull)
        feret_min, feret_max = feret_diameters_ref(hull)
    # BoundingBox is the cropped, UNROTATED blob image shape — the
    # reference exports BlobFeatures.bbox_xwidth = image.shape[1]
    # (all.py:36-40, 504-505); rotated_bbox exists there but is never
    # exported.
    bb_h, bb_w = blob.shape
    rotated = rotate_blob(blob, orientation)
    # U5 branch with the compute_features inputs (all.py:225-233)
    area_ratio = convex_area / area if area else 0.0
    p = equiv_d / maj if maj else 0.0
    use_sor = area_ratio < 1.2 or (ecc < 0.8 and p > 0.8)
    if use_sor:
        vol = biovolume_sor_raster(rotated)
        branch = "sor"
    else:
        vol = biovolume_distmap(blob)
        branch = "distmap"
    return {
        "Area": float(area),
        "Biovolume": vol["Biovolume"],
        "BoundingBox_xwidth": float(bb_w),
        "BoundingBox_ywidth": float(bb_h),
        "ConvexArea": convex_area,
        "ConvexPerimeter": convex_per,
        "Eccentricity": ecc,
        "EquivDiameter": equiv_d,
        "Extent": float(area) / blob.size if blob.size else 0.0,
        "MajorAxisLength": maj,
        "MinorAxisLength": mn,
        "Orientation": orientation,
        "Perimeter": perimeter,
        "RepresentativeWidth": vol["RepresentativeWidth"],
        "Solidity": float(area) / convex_area if convex_area else 0.0,
        "SurfaceArea": vol["SurfaceArea"],
        "maxFeretDiameter": feret_max,
        "minFeretDiameter": feret_min,
        "BiovolumeBranch": branch,
    }


def roi_features_ref(
    mask: np.ndarray, blobs: list[np.ndarray] | None = None
) -> dict[str, float]:
    """``compute_features``' exported set: the largest blob's features +
    numBlobs + the summed-over-blobs family (``all.py:446-545``),
    including the zero→NaN ratio semantics.  ``blobs`` is
    ``find_blobs_sorted(mask)`` when the caller has it."""
    if blobs is None:
        blobs = find_blobs_sorted(mask)
    if not blobs:
        out = {
            k: 0.0
            for k in (
                "Area", "Biovolume", "BoundingBox_xwidth", "BoundingBox_ywidth",
                "ConvexArea", "ConvexPerimeter", "Eccentricity", "EquivDiameter",
                "Extent", "MajorAxisLength", "MinorAxisLength", "Orientation",
                "Perimeter", "RepresentativeWidth", "Solidity", "SurfaceArea",
                "maxFeretDiameter", "minFeretDiameter",
            )
        }
        out["BiovolumeBranch"] = "none"
        out.update(
            numBlobs=0.0, summedArea=0.0, summedBiovolume=0.0,
            summedConvexArea=0.0, summedConvexPerimeter=0.0,
            summedMajorAxisLength=0.0, summedMinorAxisLength=0.0,
            summedPerimeter=0.0, summedSurfaceArea=0.0,
            Area_over_PerimeterSquared=float("nan"),
            Area_over_Perimeter=float("nan"),
            summedConvexPerimeter_over_Perimeter=float("nan"),
        )
        return out
    feats = [blob_features_ref(b) for b in blobs]
    b0 = feats[0]

    def summed(key: str) -> float:
        return float(
            np.sum(np.array([f[key] for f in feats], dtype=np.float64), dtype=np.float64)
        )

    def zero_to_nan(v: float) -> float:
        return float("nan") if v == 0 else v

    out = dict(b0)
    s_per = summed("Perimeter")
    s_cper = summed("ConvexPerimeter")
    out.update(
        numBlobs=float(len(feats)),
        summedArea=summed("Area"),
        summedBiovolume=summed("Biovolume"),
        summedConvexArea=summed("ConvexArea"),
        summedConvexPerimeter=s_cper,
        summedMajorAxisLength=summed("MajorAxisLength"),
        summedMinorAxisLength=summed("MinorAxisLength"),
        summedPerimeter=s_per,
        summedSurfaceArea=summed("SurfaceArea"),
        Area_over_PerimeterSquared=zero_to_nan(
            b0["Area"] / b0["Perimeter"] ** 2 if b0["Perimeter"] else 0.0
        ),
        Area_over_Perimeter=zero_to_nan(
            b0["Area"] / b0["Perimeter"] if b0["Perimeter"] else 0.0
        ),
        summedConvexPerimeter_over_Perimeter=zero_to_nan(
            s_cper / s_per if len(feats) > 0 and s_per else 0.0
        ),
    )
    return out
