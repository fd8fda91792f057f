"""Particle-size-distribution QC — SURVEY §2.9 U13.

The reference fits a power law to each sample's particle-size histogram
and derives QC flags from the fit (parameters at
``ifcb-data-pipeline.Rmd:651-669`` and ``ifcb_ingest_and_qc.R:500-518``).

Spark-first: the log-log power-law fit is closed-form OLS, so it runs as
a plain two-phase aggregation (``covar_pop``/``var_pop``/``corr``) — no
Python, no per-group pandas, scales like any groupBy.  An
``applyInPandas`` variant (:func:`psd_fit_pandas`) exists for kernels
that genuinely need numpy (e.g. nonlinear refits); the two agree to
float tolerance (tested).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PsdProfile:
    """One `ifcb_psd` threshold profile.

    The reference configures the PSD QC twice with distinct numbers:
    the pipeline profile (``ifcb-data-pipeline.Rmd:651-669``) and the
    ingest profile (``ifcb_ingest_and_qc.R:500-518``) — they differ in
    ``missing_cells`` (0.7 vs 0.5), ``biomass`` (1000 vs 3000) and
    ``micron_factor`` (1/3.4 vs 1/2.77).

    Rule *semantics* live in the external iRfcb/PSD package, which the
    reference repo does not vendor; the comparison directions below are
    reconstructed from the parameter names, values and the flag
    vocabulary the reference consumes ("Bubbles", "Incomplete Run",
    "Beads" — ``ifcb_ingest_and_qc.R:53``) and are documented as a
    reconstruction, not byte parity.
    """

    start_fit: int = 15          # fit the power law from this bin up
    r_sqr: float = 0.5           # min acceptable fit R²  → "Poor fit"
    beads: float = 10.0**20      # max amplitude a        → "Beads"
    bubbles: float = 110.0       # max peak ESD (µm)      → "Bubbles"
    incomplete: tuple[float, float] = (1500.0, 3.0)  # (min triggers, min mL)
    missing_cells: float = 0.7   # min cells/triggers     → "Missing cells"
    biomass: float = 1000.0      # min biomass stat       → "Biomass"
    bloom: float = 10.0          # max peak/mean count    → "Bloom"
    humidity: float = 75.0       # max hdr humidity (%)   → "Humidity"
    micron_factor: float = 1 / 3.4  # pixel → µm scale


#: ``ifcb-data-pipeline.Rmd:651-669``
PROFILE_PIPELINE = PsdProfile()
#: ``ifcb_ingest_and_qc.R:500-518``
PROFILE_INGEST = PsdProfile(
    missing_cells=0.5, biomass=3000.0, micron_factor=1 / 2.77
)


def size_histogram(
    per_roi: DataFrame,
    sample_col: str,
    size_col: str,
    bin_width: float = 5.0,
    min_bin: int = 1,
) -> DataFrame:
    """Per-(sample, size-bin) counts, bins below ``min_bin`` dropped
    (the reference fits from bin 15 up)."""
    binned = per_roi.select(
        F.col(sample_col).alias("sample"),
        F.floor(F.col(size_col) / bin_width).cast("int").alias("bin"),
    ).where(F.col("bin") >= min_bin)
    return binned.groupBy("sample", "bin").agg(F.count(F.lit(1)).alias("n"))


def psd_powerlaw_fit(hist: DataFrame, min_points: int = 3) -> DataFrame:
    """Per-sample OLS of ``log10(n) ~ log10(bin)``: returns a (amplitude),
    k (exponent), r_sqr, n_bins.  n = a * bin^k  ⇔  log n = log a + k log bin."""
    logged = hist.select(
        "sample",
        F.log10(F.col("bin").cast("double")).alias("x"),
        F.log10(F.col("n").cast("double")).alias("y"),
    )
    fitted = logged.groupBy("sample").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.covar_pop("x", "y").alias("__cxy"),
        F.var_pop("x").alias("__vx"),
        F.var_pop("y").alias("__vy"),
        F.avg("y").alias("__my"),
        F.avg("x").alias("__mx"),
    )
    # r computed manually with an explicit zero-variance guard: engines
    # disagree on corr()'s NaN-vs-NULL behavior at zero variance.
    k = F.col("__cxy") / F.col("__vx")
    r2 = F.when(
        (F.col("__vx") > 0) & (F.col("__vy") > 0),
        (F.col("__cxy") * F.col("__cxy")) / (F.col("__vx") * F.col("__vy")),
    )
    return fitted.where((F.col("n_bins") >= min_points) & (F.col("__vx") > 0)).select(
        "sample",
        "n_bins",
        F.pow(F.lit(10.0), F.col("__my") - k * F.col("__mx")).alias("a"),
        k.alias("k"),
        r2.alias("r_sqr"),
    )


def psd_flag(
    columns: list[str],
    profile: PsdProfile = PROFILE_PIPELINE,
    bin_width: float = 5.0,
) -> Column:
    """Full `ifcb_psd` flag vocabulary as one column over a fits+stats
    frame with columns ``columns``: the concatenated flags, NULL when no
    rule fires.

    The frame must carry the fit columns (``a``, ``k``, ``r_sqr``,
    ``n_bins``); each further rule switches on only when its stat
    columns are present, so callers with fit-only frames (the ingest
    plan) get the fit-based rules and the full u13 query feeds every
    stat:

    * ``peak_bin``                → Bubbles (peak ESD ≥ ``bubbles`` µm)
    * ``triggers, ml_analyzed``   → Incomplete Run
    * ``cell_ratio``              → Missing cells
    * ``biomass_stat``            → Biomass (below minimum)
    * ``peak_n, avg_n``           → Bloom (peak > ``bloom`` × mean)
    * ``humidity``                → Humidity

    Flag strings follow the vocabulary the reference consumes
    (``ifcb_ingest_and_qc.R:53``: "Bubbles", "Incomplete Run",
    "Beads", …); rules concatenate in a fixed order so the flag
    column is deterministic.
    """
    cols = set(columns)
    p = profile
    rules: list[Column] = [
        F.when(F.col("r_sqr") < p.r_sqr, F.lit("Poor fit")),
        F.when(F.col("a") > p.beads, F.lit("Beads")),
    ]
    if "peak_bin" in cols:
        peak_esd = F.col("peak_bin") * bin_width * p.micron_factor
        rules.append(F.when(peak_esd >= p.bubbles, F.lit("Bubbles")))
    if {"triggers", "ml_analyzed"} <= cols:
        rules.append(
            F.when(
                (F.col("triggers") < p.incomplete[0])
                | (F.col("ml_analyzed") < p.incomplete[1]),
                F.lit("Incomplete Run"),
            )
        )
    if "cell_ratio" in cols:
        rules.append(
            F.when(F.col("cell_ratio") < p.missing_cells, F.lit("Missing cells"))
        )
    if "biomass_stat" in cols:
        rules.append(F.when(F.col("biomass_stat") < p.biomass, F.lit("Biomass")))
    if {"peak_n", "avg_n"} <= cols:
        rules.append(
            F.when(F.col("peak_n") > p.bloom * F.col("avg_n"), F.lit("Bloom"))
        )
    if "humidity" in cols:
        rules.append(F.when(F.col("humidity") > p.humidity, F.lit("Humidity")))
    return F.nullif(F.concat_ws(", ", *rules), F.lit(""))


def psd_flags(
    fits: DataFrame,
    profile: PsdProfile = PROFILE_PIPELINE,
    bin_width: float = 5.0,
) -> DataFrame:
    """(sample, flag) rows of :func:`psd_flag` over ``fits``."""
    return fits.select("sample", psd_flag(fits.columns, profile, bin_width).alias("flag"))


def psd_fit_pandas(hist: DataFrame, min_points: int = 3) -> DataFrame:
    """applyInPandas variant (numpy lstsq per sample) — the escape hatch
    for genuinely non-closed-form kernels."""
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < min_points:
            return pd.DataFrame(
                columns=["sample", "n_bins", "a", "k", "r_sqr"]
            ).astype({"sample": "int64", "n_bins": "int64"})
        x = np.log10(pdf["bin"].to_numpy(dtype="float64"))
        y = np.log10(pdf["n"].to_numpy(dtype="float64"))
        k, c = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        return pd.DataFrame(
            {
                "sample": [pdf["sample"].iloc[0]],
                "n_bins": [len(pdf)],
                "a": [10.0**c],
                "k": [k],
                "r_sqr": [r * r],
            }
        )

    return hist.groupBy("sample").applyInPandas(
        fit, schema="sample long, n_bins long, a double, k double, r_sqr double"
    )


def psd_fit_nls(hist: DataFrame, min_points: int = 3, iters: int = 60) -> DataFrame:
    """Nonlinear least-squares power-law fit — the reference's estimator.

    The reference's `ifcb_psd` fits ``n = a * bin^k`` with nonlinear
    ``curve_fit`` in *linear* space from ``start_fit`` up (SURVEY §2.9
    U13), which weighs the populous small bins more heavily than the
    log-log OLS closed form (:func:`psd_powerlaw_fit`).  This variant
    converges with that estimator: Levenberg-damped Gauss-Newton on
    ``(a, k)``, initialized from the log-log OLS solution, pure numpy
    inside ``applyInPandas``.  On exact power-law data both estimators
    agree; on noisy data they differ by design (tested both ways).

    r_sqr here is 1 − SS_res/SS_tot in linear space (curve_fit
    convention), not the log-space correlation.
    """
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < min_points:
            return pd.DataFrame(
                columns=["sample", "n_bins", "a", "k", "r_sqr"]
            ).astype({"sample": "int64", "n_bins": "int64"})
        x = pdf["bin"].to_numpy(dtype="float64")
        y = pdf["n"].to_numpy(dtype="float64")
        # init: log-log OLS
        lx, ly = np.log(x), np.log(y)
        k = float(np.polyfit(lx, ly, 1)[0])
        a = float(np.exp(ly.mean() - k * lx.mean()))
        lam = 1e-3
        sse = float(np.sum((a * x**k - y) ** 2))
        for _ in range(iters):
            fx = a * x**k
            r = fx - y
            J = np.column_stack([x**k, fx * lx])
            g = J.T @ r
            H = J.T @ J
            try:
                step = np.linalg.solve(H + lam * np.diag(np.diag(H)) + 1e-12 * np.eye(2), -g)
            except np.linalg.LinAlgError:
                break
            a2, k2 = a + step[0], k + step[1]
            if a2 <= 0:
                a2 = a / 2.0
            sse2 = float(np.sum((a2 * x**k2 - y) ** 2))
            if sse2 < sse:
                a, k, sse = a2, k2, sse2
                lam = max(lam / 3.0, 1e-12)
                if abs(step[0]) < 1e-12 * max(abs(a), 1.0) and abs(step[1]) < 1e-12:
                    break
            else:
                lam *= 10.0
                if lam > 1e12:
                    break
        ss_tot = float(np.sum((y - y.mean()) ** 2))
        r2 = 1.0 - sse / ss_tot if ss_tot > 0 else float("nan")
        return pd.DataFrame(
            {
                "sample": [pdf["sample"].iloc[0]],
                "n_bins": [len(pdf)],
                "a": [a],
                "k": [k],
                "r_sqr": [r2],
            }
        )

    return hist.groupBy("sample").applyInPandas(
        fit, schema="sample long, n_bins long, a double, k double, r_sqr double"
    )
