"""Geospatial predicates — SURVEY §2.4 J9.

The reference computes ``ifcb_is_near_land`` / ``ifcb_is_in_basin`` /
``ifcb_which_basin`` against coastline/basin polygons
(``ifcb-data-pipeline.Rmd:722-736``; ``download_dashboard_data.R:56-63``).

Two tiers:

* :func:`tag_basins_rect` — hermetic axis-aligned basin boxes as a
  broadcast table + pure Catalyst range predicates.  This is the testable
  path (both engines compute identically) and also the right *first*
  filter at scale: a bounding-box pass prunes the vast majority of points
  before any exact geometry runs.
* :func:`tag_polygons` — exact point-in-polygon and near-boundary
  tagging in numpy inside an Arrow-batched ``mapInPandas`` kernel, the
  stage after the bounding-box prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hermetic Baltic-ish basin boxes: (name, lat_min, lat_max, lon_min, lon_max).
BASIN_BOXES: list[tuple[str, float, float, float, float]] = [
    ("Skagerrak", 57.5, 59.5, 8.0, 11.0),
    ("Kattegat", 55.5, 57.5, 10.0, 13.0),
    ("Baltic Proper", 54.0, 60.0, 13.0, 22.0),
]


def tag_basins_rect(
    points: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    boxes: list[tuple[str, float, float, float, float]] | None = None,
    near_margin: float = 0.1,
) -> DataFrame:
    """Attach ``basin`` (first matching box in list order), ``in_baltic``
    and ``near_land`` (within ``near_margin`` degrees of a box edge while
    inside it — the hermetic stand-in for the 500 m coastline buffer)."""
    boxes = boxes or BASIN_BOXES
    lat, lon = F.col(lat_col), F.col(lon_col)
    basin = F.lit(None).cast("string")
    near = F.lit(False)
    # Fold in reverse so the first listed box wins ties.
    for name, lat0, lat1, lon0, lon1 in reversed(boxes):
        inside = (lat >= lat0) & (lat <= lat1) & (lon >= lon0) & (lon <= lon1)
        edge = inside & (
            (lat - lat0 < near_margin)
            | (lat1 - lat < near_margin)
            | (lon - lon0 < near_margin)
            | (lon1 - lon < near_margin)
        )
        basin = F.when(inside, F.lit(name)).otherwise(basin)
        near = F.when(inside, edge).otherwise(near)
    return points.withColumn("basin", basin).withColumn(
        "in_baltic", basin == "Baltic Proper"
    ).withColumn("near_land", near)


def tag_polygons(
    points: DataFrame,
    polygons: list[tuple[str, list[tuple[float, float]]]],
    lat_col: str = "lat",
    lon_col: str = "lon",
    near_margin_deg: float = 0.005,
) -> DataFrame:
    """Exact point-in-polygon + near-boundary tagging in pure numpy —
    the real S11/J9 geometry path, no shapely required.

    ``polygons``: (name, [(lon, lat), …]) vertex rings, broadcast via
    closure into an Arrow-batched ``mapInPandas`` kernel.  Containment
    is even-odd ray casting, vectorized over the point batch per edge;
    ``near_land`` is true when the minimum point-to-boundary-segment
    distance (degrees) is below ``near_margin_deg`` (the 500 m coastline
    buffer at IFCB latitudes ≈ 0.005°).  First listed polygon wins ties.
    At scale this is the exact stage AFTER the bounding-box prune
    (:func:`tag_basins_rect`) — each executor holds only the vertex
    arrays (kilobytes) and streams its point partitions."""
    import numpy as np
    import pandas as pd

    prepared = [
        (name, np.asarray(ring, dtype=np.float64)) for name, ring in polygons
    ]

    def _inside(px: "np.ndarray", py: "np.ndarray", ring: "np.ndarray") -> "np.ndarray":
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        inside = np.zeros(px.shape, dtype=bool)
        for ax, ay, bx, by in zip(x1, y1, x2, y2):
            if ay == by:
                continue
            crosses = (ay > py) != (by > py)
            xint = (bx - ax) * (py - ay) / (by - ay) + ax
            inside ^= crosses & (px < xint)
        return inside

    def _edge_dist(px: "np.ndarray", py: "np.ndarray", ring: "np.ndarray") -> "np.ndarray":
        best = np.full(px.shape, np.inf)
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for ax, ay, bx, by in zip(x1, y1, x2, y2):
            dx, dy = bx - ax, by - ay
            seg2 = dx * dx + dy * dy
            t = ((px - ax) * dx + (py - ay) * dy) / seg2 if seg2 > 0 else 0.0
            t = np.clip(t, 0.0, 1.0)
            # sqrt(u² + v²) rather than np.hypot: bit-identical to the
            # SQL mirror (hypot uses a different overflow-safe algorithm).
            u = px - (ax + t * dx)
            v = py - (ay + t * dy)
            best = np.minimum(best, np.sqrt(u * u + v * v))
        return best

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in points.schema)
        + ", basin string, near_land boolean"
    )

    def kernel(batches):
        for pdf in batches:
            px = pdf[lon_col].to_numpy(dtype=np.float64)
            py = pdf[lat_col].to_numpy(dtype=np.float64)
            basin = np.full(len(pdf), None, dtype=object)
            near = np.zeros(len(pdf), dtype=bool)
            for name, ring in reversed(prepared):
                hit = _inside(px, py, ring)
                basin[hit] = name
                near[hit] = _edge_dist(px[hit], py[hit], ring) < near_margin_deg
            out = pdf.copy()
            out["basin"] = pd.Series(basin, index=pdf.index, dtype=object)
            out["near_land"] = near
            yield out

    return points.mapInPandas(kernel, schema=out_schema)
