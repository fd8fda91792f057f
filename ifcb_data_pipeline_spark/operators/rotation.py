"""U11: MATLAB-parity blob rotation (``blobs.py:32-149``).

The reference rotates each blob to its major axis before the
solid-of-revolution biovolume (U5) and the rotated bbox features.  To
reproduce historical feature values the rotation must follow MATLAB's
``imrotate(B, theta, 'nearest', 'crop')`` conventions exactly:

* the blob is first centered on its centroid in a square canvas
  (integer-exact offset math, no float drift),
* output size equals input size ('crop'), with the world limits of the
  rotated image re-centered on the input's limits,
* nearest-neighbor sampling via the INVERSE transform with MATLAB
  ``round`` (ties away from zero),
* the crop reference is nudged two ULPs down because MATLAB's imwarp
  lands infinitesimally below exact half-pixel ties.

Parity is certified two ways: structurally (0°/90° exactness, area
preservation, axis alignment — ``tests/test_kernels.py``) and against
golden fixtures generated by executing the reference's own runnable
rotation code on a 14-shape panel
(``tests/test_golden_kernel_parity.py`` — pixel-for-pixel at 7 angles).
MATLAB-binary parity remains uncertifiable without MATLAB, but the
reference's Python path is now matched exactly.
"""

from __future__ import annotations

import math

import numpy as np


def center_blob(mask: np.ndarray) -> np.ndarray:
    """Place the blob in a square canvas with its centroid at the
    center, using integer-exact arithmetic for the canvas size and
    offsets (sums instead of means, so no float rounding drift)."""
    b = np.asarray(mask, dtype=bool)
    ys, xs = np.nonzero(b)
    if ys.size == 0:
        return b.copy()
    h, w = b.shape
    n = ys.size
    sum_y = int(ys.sum())
    sum_x = int(xs.sum())
    # distance (×n) from centroid to the farthest canvas edge
    reach_n = max(sum_y, h * n - sum_y, sum_x, w * n - sum_x)
    side = (2 * reach_n + n - 1) // n  # ceil(2·reach)
    y_off = (reach_n - sum_y) // n
    x_off = (reach_n - sum_x) // n
    canvas = np.zeros((side, side), dtype=bool)
    canvas[y_off : y_off + h, x_off : x_off + w] = b
    return canvas


def _round_half_away(v: np.ndarray) -> np.ndarray:
    """MATLAB round: halves away from zero (np.round rounds to even)."""
    return np.sign(v) * np.floor(np.abs(v) + 0.5)


def imrotate_nearest_crop(mask: np.ndarray, angle_deg: float) -> np.ndarray:
    """MATLAB ``imrotate(mask, angle_deg, 'nearest', 'crop')`` for a
    binary image: counterclockwise rotation, same output size, output
    world limits re-centered on the input's."""
    b = np.asarray(mask, dtype=bool)
    h, w = b.shape
    if h == 0 or w == 0:
        return b.copy()
    # imrotate rotates CCW; the intrinsic y-axis points down, so the
    # forward point transform is a clockwise matrix in array coords.
    a = math.radians(-angle_deg)
    ca, sa = math.cos(a), math.sin(a)

    # Forward-map the world corners ([0.5, n+0.5] limits) to find the
    # bounding box of the rotated image, then shift so its center
    # coincides with the input center ('crop').
    cx = np.array([0.5, 0.5, w + 0.5, w + 0.5])
    cy = np.array([0.5, h + 0.5, 0.5, h + 0.5])
    fx = cx * ca + cy * sa
    fy = -cx * sa + cy * ca
    shift_x = (fx.min() + fx.max()) / 2.0 - (0.5 + w + 0.5) / 2.0
    shift_y = (fy.min() + fy.max()) / 2.0 - (0.5 + h + 0.5) / 2.0
    # Two-ULP downward nudge: MATLAB's imwarp evaluates half-pixel ties
    # from just below, and nearest-neighbor must follow the same side.
    origin_x = float(np.nextafter(np.nextafter(0.5 + shift_x, -np.inf), -np.inf))
    origin_y = float(np.nextafter(np.nextafter(0.5 + shift_y, -np.inf), -np.inf))

    rr, cc = np.indices((h, w), dtype=np.float64)
    out_x = origin_x + cc + 0.5
    out_y = origin_y + rr + 0.5
    # Inverse transform back into input intrinsic coordinates.
    in_x = out_x * ca - out_y * sa
    in_y = out_x * sa + out_y * ca
    xi = _round_half_away(in_x).astype(np.int64)
    yi = _round_half_away(in_y).astype(np.int64)
    valid = (xi >= 1) & (xi <= w) & (yi >= 1) & (yi <= h)
    out = np.zeros_like(b)
    out[valid] = b[yi[valid] - 1, xi[valid] - 1]
    return out


def rotate_blob(mask: np.ndarray, theta_deg: float) -> np.ndarray:
    """Center the blob, then rotate it ``theta_deg`` counterclockwise —
    callers pass the blob orientation so the major axis lands
    horizontal (``blobs.py:63-69``)."""
    return imrotate_nearest_crop(center_blob(mask), theta_deg)

