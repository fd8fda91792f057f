"""CPU profile of the per-ROI feature-kernel chain, one line per U-family.

    python tools/kernel_profile.py [--repeat N]

Builds the deterministic delivery panel: 170 ROIs over 6 bins, with the
image recipe of ``explode_bins_to_rois`` (``synthetic_roi_pixels``),
each encoded and decoded as the ingest path does.  Then it runs the
chain of ``features_from_images`` on every ROI, stage by stage, in the
kernel's order, and prints the CPU seconds each family took and the
total.  Each repeat times the whole panel once, after one warm-up pass;
the printed figures are the per-family medians over the repeats, and
the total is the median of the per-repeat totals.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ifcb_data_pipeline_spark.operators import kernels as K  # noqa: E402
from ifcb_data_pipeline_spark.operators.image_codec import (  # noqa: E402
    decode_image,
    encode_pgm,
)
from ifcb_data_pipeline_spark.operators.multimodal import (  # noqa: E402
    synthetic_roi_pixels,
)

#: ROIs per bin of the panel: 170 in all, as one benchmark delivery.
PANEL_BINS = (29, 29, 28, 28, 28, 28)


def delivery_panel() -> list[tuple[str, int, object]]:
    """(sample, roi_number, decoded image) for every ROI of the panel."""
    panel = []
    for b, n in enumerate(PANEL_BINS):
        for roi in range(1, n + 1):
            px = synthetic_roi_pixels(roi)
            h, w = px.shape
            panel.append((f"bin{b}", roi, decode_image(encode_pgm(px), w, h)))
    return panel


def _ringwedge(s):
    if s["mask"].any():
        K.ringwedge_features(s["mask"], size=K.RINGWEDGE_SIZE)


#: (family, fn(state)) in ``features_from_images`` order; each stage
#: reads and extends the per-ROI ``state`` dict.
STAGES = [
    ("U1 segmentation", lambda s: s.update(mask=K.segment_roi_pc(s["img"]))),
    ("blobs (8-connected)", lambda s: s.update(blobs=K.find_blobs_sorted(s["mask"]))),
    ("U2/U3/U5/U11/U12 geometry", lambda s: K.roi_features_ref(s["mask"], s["blobs"])),
    ("U7 texture", lambda s: K.texture_stats(s["img"], s["mask"])),
    ("U6 symmetry", lambda s: K.symmetry_features(s["mask"], s["blobs"])),
    ("U10 ring/wedge", _ringwedge),
    ("U4 pair stats", lambda s: K.perimeter_pair_stats(s["mask"], blobs=s["blobs"])),
    ("U8 Hu moments", lambda s: K.hu_moments(s["mask"])),
    ("U9 HOG", lambda s: K.hog_features(s["img"])),
]


def profile(panel) -> dict[str, float]:
    """CPU seconds per family over one pass of the panel."""
    cpu = dict.fromkeys((name for name, _ in STAGES), 0.0)
    for _, _, img in panel:
        state = {"img": img}
        for name, fn in STAGES:
            t0 = time.process_time()
            fn(state)
            cpu[name] += time.process_time() - t0
    return cpu


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)
    panel = delivery_panel()
    profile(panel)  # warm-up: imports, LUTs, PRNG stream, FFT plans
    runs = [profile(panel) for _ in range(args.repeat)]
    print(f"{len(panel)} ROIs, {args.repeat} repeats, CPU seconds (median)")
    for name, _ in STAGES:
        print(f"  {name:<28} {statistics.median(r[name] for r in runs):7.3f}")
    total = statistics.median(sum(r.values()) for r in runs)
    print(f"  {'total':<28} {total:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
