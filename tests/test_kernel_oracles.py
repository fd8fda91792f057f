"""Brute-force oracles for the kernel building blocks whose fast forms
must stay exact: the connected-component labelers and what is built on
them, the Feret sweep, and the shared blob list of the kernel loop.
Every comparison is exact (labels equal, float bits equal)."""

from __future__ import annotations

from collections import deque

import numpy as np
import pytest

from ifcb_data_pipeline_spark.operators import kernels as K

_STEPS_4 = ((-1, 0), (1, 0), (0, -1), (0, 1))
_STEPS_8 = _STEPS_4 + ((-1, -1), (-1, 1), (1, -1), (1, 1))


def bfs_labels(mask: np.ndarray, steps) -> tuple[np.ndarray, int]:
    """Breadth-first flood fill started from each unlabeled on-pixel in
    row-major order: labels 1..n in first-pixel order."""
    m = np.asarray(mask).astype(bool)
    h, w = m.shape
    out = np.zeros((h, w), dtype=np.int32)
    n = 0
    for y in range(h):
        for x in range(w):
            if not m[y, x] or out[y, x]:
                continue
            n += 1
            out[y, x] = n
            queue = deque([(y, x)])
            while queue:
                cy, cx = queue.popleft()
                for dy, dx in steps:
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and m[ny, nx] and not out[ny, nx]:
                        out[ny, nx] = n
                        queue.append((ny, nx))
    return out, n


def _special_masks() -> dict[str, np.ndarray]:
    checker = (np.add.outer(np.arange(9), np.arange(11)) % 2).astype(bool)
    diagonal = np.eye(8, dtype=bool) | np.eye(8, k=3, dtype=bool)
    anti = np.fliplr(np.eye(7, dtype=bool))
    # Two squares touching only at one corner.
    corner = np.zeros((8, 8), dtype=bool)
    corner[1:4, 1:4] = True
    corner[4:7, 4:7] = True
    # A serpentine: one long 4-connected path.
    snake = np.zeros((15, 15), dtype=bool)
    snake[::2, :] = True
    snake[1::4, -1] = True
    snake[3::4, 0] = True
    return {
        "empty": np.zeros((6, 7), dtype=bool),
        "full": np.ones((6, 7), dtype=bool),
        "zero_rows": np.zeros((0, 5), dtype=bool),
        "single_on": np.ones((1, 1), dtype=bool),
        "single_off": np.zeros((1, 1), dtype=bool),
        "row": np.array([[1, 0, 1, 1, 0, 1]], dtype=bool),
        "column": np.array([[1], [1], [0], [1]], dtype=bool),
        "checkerboard": checker,
        "inverse_checkerboard": ~checker,
        "diagonal": diagonal,
        "anti_diagonal": anti,
        "corner_touch": corner,
        "snake": snake,
    }


def _random_masks(n: int = 60) -> list[np.ndarray]:
    rng = np.random.default_rng(20261017)
    out = []
    for i in range(n):
        h, w = (int(v) for v in rng.integers(1, 30, size=2))
        out.append(rng.random((h, w)) < (0.15 + 0.7 * (i % 7) / 6))
    return out


MASKS = list(_special_masks().items()) + [
    (f"random{i}", m) for i, m in enumerate(_random_masks())
]


@pytest.mark.parametrize("name,mask", MASKS, ids=[n for n, _ in MASKS])
@pytest.mark.parametrize(
    "labeler,steps",
    [(K.label_components, _STEPS_4), (K.label_components_8, _STEPS_8)],
    ids=["4-connected", "8-connected"],
)
def test_labelers_match_bfs_oracle(name, mask, labeler, steps):
    got, n = labeler(mask)
    want, n_want = bfs_labels(mask, steps)
    assert n == n_want
    assert got.dtype == np.int32 and got.shape == mask.shape
    assert np.array_equal(got, want)


@pytest.mark.parametrize("name,mask", MASKS, ids=[n for n, _ in MASKS])
def test_label_consumers_match_bfs_oracle(name, mask):
    """remove_small_blobs, hysteresis and fill_holes over oracle labels."""
    labels8, n8 = bfs_labels(mask, _STEPS_8)
    sizes = [int((labels8 == i).sum()) for i in range(1, n8 + 1)]
    for min_area in (1, 3, 10):
        keep = [i + 1 for i, s in enumerate(sizes) if s >= min_area]
        want = np.isin(labels8, keep)
        assert np.array_equal(K.remove_small_blobs(mask, min_area), want)

    strong = np.zeros(mask.shape, dtype=bool)
    strong.ravel()[::5] = True
    seeded = set(labels8[strong & (labels8 > 0)].tolist())
    assert np.array_equal(K.hysteresis(mask, strong), np.isin(labels8, list(seeded)))

    # A hole is a 4-connected background component off the image frame.
    inv, _ = bfs_labels(~np.asarray(mask, dtype=bool), _STEPS_4)
    frame = set(inv[[0, -1], :].ravel()) | set(inv[:, [0, -1]].ravel()) if inv.size else set()
    holes = (inv > 0) & ~np.isin(inv, list(frame))
    assert np.array_equal(K.fill_holes(mask), mask.astype(bool) | holes)


def feret_loop(hull: np.ndarray) -> tuple[float, float]:
    """The per-angle scalar Feret sweep the vectorized form replaced."""
    y, x = hull.astype(np.float64).T
    m = []
    for theta in np.linspace(0, -359, 360) * (np.pi / 180.0):
        cos_t, sin_t = np.cos(theta), np.sin(theta)
        x2 = x * cos_t - y * sin_t
        dl = np.abs(cos_t) + np.abs(sin_t)
        m.append(np.max(x2) - np.min(x2) + dl)
    return float(np.min(m)), float(np.max(m))


def _bits(v: float) -> bytes:
    return np.float64(v).tobytes()


def test_feret_matches_scalar_loop_on_random_hulls():
    rng = np.random.default_rng(1017)
    checked = 0
    for i in range(120):
        pts = rng.integers(0, 5 + i, size=(int(rng.integers(3, 60)), 2))
        hull = K.hull_vertices_ref(pts)
        if hull is None:
            continue
        got, want = K.feret_diameters_ref(hull), feret_loop(hull)
        assert [_bits(v) for v in got] == [_bits(v) for v in want], (i, got, want)
        checked += 1
    assert checked > 100
    # The degenerate-hull fallbacks feed raw points (or one origin point).
    for pts in (np.zeros((1, 2)), np.array([[0.0, 0.0], [3.0, 4.0]]),
                np.array([[1.0, 2.0], [1.0, 5.0], [1.0, 9.0]])):
        got, want = K.feret_diameters_ref(pts), feret_loop(pts)
        assert [_bits(v) for v in got] == [_bits(v) for v in want]


def _same(a, b) -> bool:
    """Equal values, floats compared by their bits (so NaN == NaN)."""
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, float) and isinstance(b, float) and _bits(a) == _bits(b)
    return type(a) is type(b) and a == b


def test_shared_blob_list_matches_mask_only_path():
    """The kernel loop finds blobs once and hands the list to three
    families; each must equal its mask-only call on every panel ROI."""
    from tools.kernel_profile import delivery_panel

    panel = delivery_panel()
    assert len(panel) == 170
    multi = 0
    for sample, roi, img in panel:
        mask = K.segment_roi_pc(img)
        blobs = K.find_blobs_sorted(mask)
        multi += len(blobs) > 1
        for fn, shared in (
            (K.roi_features_ref, lambda m: K.roi_features_ref(m, blobs)),
            (K.symmetry_features, lambda m: K.symmetry_features(m, blobs)),
            (K.perimeter_pair_stats, lambda m: K.perimeter_pair_stats(m, blobs=blobs)),
        ):
            want, got = fn(mask), shared(mask)
            assert want.keys() == got.keys()
            bad = [k for k in want if not _same(want[k], got[k])]
            assert not bad, (sample, roi, fn.__name__, bad)
    # the panel exercises the summed-over-blobs family, not only one blob
    assert multi > 0
