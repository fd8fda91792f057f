"""Pure-numpy image codecs — real decode for the multimodal (S2/U1)
path, no imaging libraries required.

The reference reads ROI pixels straight out of the raw ``.roi`` byte
slab (``ifcb_features``' inputs are already numpy arrays); container
formats only appear at the PNG-export edge.  Here the binary ``image``
column carries self-describing bytes, and this module decodes the two
classic uncompressed formats a pure-numpy engine can own end to end:

* **PGM** (P5 binary / P2 ASCII, maxval ≤ 65535) — the fixture and
  fake-ROI format (:func:`encode_pgm` writes it).
* **BMP** (BITMAPINFOHEADER, uncompressed 8-bit palette or 24-bit BGR,
  bottom-up or top-down) — decoded to grayscale/RGB numpy.

Anything else (PNG/JPEG/…) still needs a real imaging library and
raises :class:`UnsupportedImageError` — the honest boundary that
replaced the old blanket ``NotImplementedError``.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedImageError(ValueError):
    """Image bytes are in a format outside the pure-numpy subset."""


def encode_pgm(img: np.ndarray) -> bytes:
    """Serialize a 2-D uint8 array as binary PGM (P5)."""
    a = np.ascontiguousarray(img, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("PGM encodes 2-D grayscale only")
    h, w = a.shape
    return f"P5\n{w} {h}\n255\n".encode() + a.tobytes()


def _pgm_tokens(buf: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integers, skipping
    ``#`` comments; returns (values, offset just past the last one)."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i] == ord("#"):
            i = buf.index(b"\n", i) + 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise UnsupportedImageError("truncated PGM header")
        vals.append(int(buf[i:j]))
        i = j
    return vals, i


def decode_pgm(buf: bytes) -> np.ndarray:
    magic = buf[:2]
    if magic not in (b"P5", b"P2"):
        raise UnsupportedImageError("not a PGM image")
    (w, h, maxval), i = _pgm_tokens(buf, 3, 2)
    if magic == b"P2":
        flat, _ = _pgm_tokens(buf, w * h, i)
        arr = np.array(flat, dtype=np.uint16 if maxval > 255 else np.uint8)
        return arr.reshape(h, w)
    i += 1  # exactly one whitespace byte after maxval per spec
    if maxval > 255:
        arr = np.frombuffer(buf, dtype=">u2", count=w * h, offset=i)
        return arr.astype(np.uint16).reshape(h, w)
    return np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=i).reshape(h, w)


def decode_bmp(buf: bytes) -> np.ndarray:
    if buf[:2] != b"BM":
        raise UnsupportedImageError("not a BMP image")
    data_at = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size < 40:
        raise UnsupportedImageError("pre-BITMAPINFOHEADER BMP unsupported")
    w, h_raw = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0:
        raise UnsupportedImageError("compressed BMP unsupported")
    if bpp not in (8, 24):
        raise UnsupportedImageError(f"{bpp}-bpp BMP unsupported (subset: 8/24)")
    h = abs(h_raw)
    row_bytes = (w * bpp // 8 + 3) // 4 * 4
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=row_bytes * h, offset=data_at
    ).reshape(h, row_bytes)
    if h_raw > 0:  # bottom-up storage
        rows = rows[::-1]
    if bpp == 8:
        # palette-indexed; IFCB-style grayscale palettes are identity, so
        # the index IS the intensity (palette lookup deliberately skipped)
        return rows[:, :w].copy()
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    return bgr[:, :, ::-1].copy()  # → RGB


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize with the floor mapping
    ``src = (dst * src_size) // dst_size`` — integer-exact, so resized
    deterministic payloads stay closed-form predictable (the mm3 oracle
    mirrors this formula in SQL)."""
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * h) // out_h
    xi = (np.arange(out_w) * w) // out_w
    return img[yi][:, xi]


def decode_image(
    raw: bytes, width: int | None = None, height: int | None = None
) -> np.ndarray:
    """Sniff-and-decode the multimodal ``image`` column.

    PGM and BMP decode from their own headers; headerless bytes (the raw
    ``.roi``-slab convention) need ``width``/``height`` metadata and are
    read as row-major uint8 — mirroring how the reference slices ROI
    pixels straight out of the .roi file (S2).
    """
    if raw[:2] in (b"P5", b"P2"):
        return decode_pgm(raw)
    if raw[:2] == b"BM":
        return decode_bmp(raw)
    if raw[:8] == b"\x89PNG\r\n\x1a\n" or raw[:3] == b"\xff\xd8\xff":
        raise UnsupportedImageError(
            "compressed formats (PNG/JPEG) need an imaging library"
        )
    if width is None or height is None:
        raise UnsupportedImageError(
            "headerless image bytes need width/height metadata"
        )
    if len(raw) < width * height:
        raise UnsupportedImageError("raw payload smaller than width*height")
    return np.frombuffer(raw, dtype=np.uint8, count=width * height).reshape(
        height, width
    )
