"""U13: the closed-form OLS fit and the applyInPandas/numpy fit agree."""

from __future__ import annotations

import pytest

from ifcb_data_pipeline_spark.operators.psd import (
    psd_fit_pandas,
    psd_powerlaw_fit,
    size_histogram,
)
from ifcb_data_pipeline_spark.sources.tables import load_table


def test_closed_form_matches_numpy(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    hist = size_histogram(lineitem, "l_suppkey", "l_quantity", bin_width=5.0)
    closed = {r["sample"]: r for r in psd_powerlaw_fit(hist).collect()}
    numpy_ = {r["sample"]: r for r in psd_fit_pandas(hist).collect()}
    assert set(closed) == {k for k in numpy_ if numpy_[k]["n_bins"] >= 3}
    for s, c in closed.items():
        n = numpy_[s]
        assert c["k"] == pytest.approx(n["k"], rel=1e-9)
        assert c["a"] == pytest.approx(n["a"], rel=1e-9)
        assert c["r_sqr"] == pytest.approx(n["r_sqr"], rel=1e-9)


def test_powerlaw_recovers_known_exponent(spark):
    # n = 1000 * bin^-2 exactly → fit must recover k=-2, r²=1.
    rows = [(1, b, int(1000 * b**-2 * 1000)) for b in range(1, 8)]
    hist = spark.createDataFrame(rows, "sample long, bin int, n long")
    fit = psd_powerlaw_fit(hist).first()
    assert fit["k"] == pytest.approx(-2.0, abs=1e-3)
    assert fit["r_sqr"] == pytest.approx(1.0, abs=1e-4)


def test_flag_vocabulary_both_profiles(spark):
    from ifcb_data_pipeline_spark.operators.psd import (
        PROFILE_INGEST,
        PROFILE_PIPELINE,
        psd_flags,
    )

    # One row per rule; stats chosen so exactly that rule fires under the
    # pipeline profile.  Baseline values keep every other rule quiet.
    base = dict(
        a=1.0, k=-2.0, r_sqr=0.9, n_bins=10, peak_bin=20, peak_n=10,
        avg_n=5.0, triggers=2000.0, ml_analyzed=5.0, cell_ratio=0.9,
        biomass_stat=5000.0, humidity=50,
    )
    cases = {
        1: {},                                 # clean → no flag
        2: {"r_sqr": 0.1},                     # Poor fit
        3: {"a": 1e21},                        # Beads
        4: {"peak_bin": 100},                  # Bubbles: 100*5/3.4=147 ≥ 110
        5: {"triggers": 100.0},                # Incomplete Run
        6: {"ml_analyzed": 1.0},               # Incomplete Run (mL branch)
        7: {"cell_ratio": 0.6},                # Missing cells (pipeline only)
        8: {"biomass_stat": 2000.0},           # Biomass (ingest only: <3000)
        9: {"peak_n": 100},                    # Bloom: 100 > 10*5
        10: {"humidity": 90},                  # Humidity
    }
    rows = [{"sample": s, **base, **d} for s, d in cases.items()]
    df = spark.createDataFrame(rows)
    flags_p = {r["sample"]: r["flag"] for r in psd_flags(df, PROFILE_PIPELINE).collect()}
    flags_i = {r["sample"]: r["flag"] for r in psd_flags(df, PROFILE_INGEST).collect()}
    assert flags_p[1] is None and flags_i[1] is None
    assert flags_p[2] == "Poor fit"
    assert flags_p[3] == "Beads"
    assert flags_p[4] == "Bubbles"
    assert flags_p[5] == "Incomplete Run" and flags_p[6] == "Incomplete Run"
    assert flags_p[7] == "Missing cells"
    assert flags_i[7] is None          # ingest threshold is 0.5, not 0.7
    assert flags_p[8] is None          # pipeline threshold is 1000
    assert flags_i[8] == "Biomass"     # ingest threshold is 3000
    assert flags_p[9] == "Bloom"
    assert flags_p[10] == "Humidity"
    # micron_factor divergence: peak ESD 100*5/2.77=180 vs /3.4=147 — both
    # over 110; at peak_bin 65: 65*5*(1/3.4)=95.6 (no) vs *(1/2.77)=117 (yes)
    df65 = spark.createDataFrame([{"sample": 1, **base, "peak_bin": 65}])
    assert psd_flags(df65, PROFILE_PIPELINE).first()["flag"] is None
    assert psd_flags(df65, PROFILE_INGEST).first()["flag"] == "Bubbles"


def test_fit_only_flags_equal_in_both_profiles(spark):
    """The ingest tick flags fit-only frames with the ingest profile at
    its own 2.0 bin width; on such frames only the fit rules (Poor fit,
    Beads) exist, and both profiles set them alike."""
    from ifcb_data_pipeline_spark.operators.psd import (
        PROFILE_INGEST,
        PROFILE_PIPELINE,
        psd_flags,
    )

    assert (PROFILE_INGEST.r_sqr, PROFILE_INGEST.beads) == (
        PROFILE_PIPELINE.r_sqr, PROFILE_PIPELINE.beads,
    )
    fits = spark.createDataFrame(
        [("clean", 10, 1.0, -2.0, 0.9), ("poor", 4, 1.0, -2.0, 0.1),
         ("beads", 6, 1e21, -2.0, 0.9), ("both", 3, 1e21, -1.0, 0.2),
         ("edge", 5, 1e20, -2.0, 0.5), ("null_r2", 3, 1.0, 0.0, None)],
        "sample string, n_bins long, a double, k double, r_sqr double",
    )

    def flags(df) -> dict:
        return {r["sample"]: r["flag"] for r in df.collect()}

    pipeline = flags(psd_flags(fits))
    assert flags(psd_flags(fits, PROFILE_INGEST, bin_width=2.0)) == pipeline
    assert pipeline == {
        "clean": None, "poor": "Poor fit", "beads": "Beads",
        "both": "Poor fit, Beads", "edge": None, "null_r2": None,
    }


def test_nls_recovers_exact_power_law(spark):
    from ifcb_data_pipeline_spark.operators.psd import psd_fit_nls

    rows = [(1, b, int(1000 * b**-2 * 1000)) for b in range(1, 8)]
    hist = spark.createDataFrame(rows, "sample long, bin int, n long")
    fit = psd_fit_nls(hist).first()
    assert fit["k"] == pytest.approx(-2.0, abs=1e-3)
    assert fit["r_sqr"] == pytest.approx(1.0, abs=1e-6)


def test_nls_differs_from_ols_on_noisy_data(spark):
    """curve_fit in linear space weighs big counts more than log-log OLS:
    with multiplicative noise the two estimators must disagree, and the
    NLS one must have the lower linear-space SSE (it optimizes it)."""
    import numpy as np

    from ifcb_data_pipeline_spark.operators.psd import (
        psd_fit_nls,
        psd_powerlaw_fit,
    )

    rng = np.random.default_rng(11)
    bins = np.arange(2, 40)
    n = (5000.0 * bins**-1.7 * np.exp(rng.normal(0, 0.4, len(bins)))).astype(int) + 1
    hist = spark.createDataFrame(
        [(1, int(b), int(c)) for b, c in zip(bins, n)], "sample long, bin int, n long"
    )
    ols = psd_powerlaw_fit(hist).first()
    nls = psd_fit_nls(hist).first()
    assert abs(ols["k"] - nls["k"]) > 1e-4

    def sse(a, k):
        return float(np.sum((a * bins.astype(float) ** k - n) ** 2))

    assert sse(nls["a"], nls["k"]) < sse(ols["a"], ols["k"])
