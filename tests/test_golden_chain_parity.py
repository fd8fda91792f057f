"""Full feature-CHAIN golden parity against the reference's own wiring.

``tests/fixtures/golden_chain.json`` was produced by
``tools/gen_golden_chain.py`` executing the reference package's
functions in the exact ``compute_features`` wiring
(``ifcb_features/all.py:446-545``): find_blobs split/sort, per-blob
cov-form ellipse, explicit orientation, Heron convex hull of the
perimeter points, 360° Feret sweep, rotated-bbox widths, the U5 branch
rule with THOSE inputs, and the summed-over-blobs family.

:func:`roi_features_ref` must reproduce every value BIT-FOR-BIT on the
19-shape panel (589 pinned values) — including the near-threshold
branch shapes (ecc ≈ 0.8, area_ratio ≈ 1.2) where an
estimator-convention mismatch flips the biovolume branch, and the
multi-blob shapes where largest-blob vs whole-mask semantics diverge.
The one exception is the keys computed through ``np.linalg.eig``
(:data:`EIG_ULP_BOUNDS`), which hold to a stated ulp bound and to the
exact 4-decimal floor form the oracle comparison uses.
"""

from __future__ import annotations

import json
import math
import pathlib

import numpy as np
import pytest

from ifcb_data_pipeline_spark.operators.kernels import roi_features_ref
from tests.ulp import floor4, ulp_distance

FIXTURE = pathlib.Path(__file__).parent / "fixtures" / "golden_chain.json"
GOLDEN = json.loads(FIXTURE.read_text())
CASES = {c["name"]: c for c in GOLDEN["cases"]}

# ellipse_properties_cov takes the axes from np.linalg.eig(np.cov(...)).
# LAPACK's eigensolver runs on CPU-dispatched SIMD kernels, so on a CPU
# other than the one that baked the fixture the eigenvalues can differ
# in the last bits.  Each bound is the largest distance measured on such
# a CPU (crescent, notched_disk and notched_disk_deep differ there).
EIG_ULP_BOUNDS = {
    # 4·sqrt(smaller eigenvalue): ≤ 8 ulp (notched_disk)
    "MinorAxisLength": 8,
    # the sum over blobs of the key above; every affected case has one blob
    "summedMinorAxisLength": 8,
    # sqrt(1 − (minor/major)²) multiplies the relative error of minor by
    # (minor/major)²/ecc² (≈ 4.6 at ecc 0.42), and ecc < 0.5 has an ulp
    # 2⁷ finer than minor ≈ 38: ≤ 54 ulp (notched_disk)
    "Eccentricity": 54,
}


def _mask(rows: list[str]) -> np.ndarray:
    return np.array([[c == "1" for c in row] for row in rows], dtype=bool)


@pytest.mark.parametrize("name", sorted(CASES))
def test_roi_features_match_reference_chain(name):
    case = CASES[name]
    ours = roi_features_ref(_mask(case["mask"]))
    for key, ref_v in case["chain"].items():
        got = ours[key]
        if key == "BiovolumeBranch":
            assert got == ref_v, (name, key)
            continue
        rv = float(ref_v)
        if math.isnan(rv):
            assert math.isnan(got), (name, key, got)
        elif key in EIG_ULP_BOUNDS:
            assert ulp_distance(got, rv) <= EIG_ULP_BOUNDS[key], (
                name, key, f"ref={ref_v}", f"ours={got!r}"
            )
            assert floor4(got) == floor4(rv), (name, key, "4dp floor moved")
        else:
            assert got == rv, (name, key, f"ref={ref_v}", f"ours={got!r}")


def test_branch_shapes_cover_both_branches():
    branches = {c["chain"]["BiovolumeBranch"] for c in GOLDEN["cases"]}
    assert branches == {"sor", "distmap"}


def test_panel_covers_multi_blob_semantics():
    multi = [c for c in GOLDEN["cases"] if float(c["chain"]["numBlobs"]) > 1]
    assert multi, "panel lost its multi-blob cases"
    for c in multi:
        assert float(c["chain"]["summedArea"]) > float(c["chain"]["Area"])
