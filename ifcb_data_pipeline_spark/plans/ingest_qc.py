"""Composed incremental ingest + QC job — SURVEY §3.2
(``code/ifcb_ingest_and_qc.R``).

One tick:  list bins → size gates (F9) → anti-join work queue (I2) →
bin→ROI expansion + feature kernel (S2/U1-U12, stub decode) → PSD fit +
flags (U13) → append feature/psd outputs + ledger (I4).  Re-runs are
idempotent; a new delivery of bins processes only the new bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.kernels import features_from_images
from ..operators.multimodal import explode_bins_to_rois
from ..operators.psd import PROFILE_INGEST, psd_flag, psd_powerlaw_fit, size_histogram
from ..streaming.incremental import CheckpointedJob

# The tick's PSD histogram bin width; the flag rules read peak bins on
# the same scale.
PSD_BIN_WIDTH = 2.0


def write_psd(features: DataFrame, path: str) -> int:
    """Append the per-sample PSD power-law fit of ``features``
    (``sample``, ``EquivDiameter``) with its ingest-profile QC flag to
    ``path``; returns the number of flagged samples.  Samples are grouped
    on the bin id string itself, so real ids such as
    ``D20240423T115846_IFCB127`` work.  The flagged count rides the write
    as an observed metric, not a second job."""
    hist = size_histogram(features, "sample", "EquivDiameter", bin_width=PSD_BIN_WIDTH)
    fits = psd_powerlaw_fit(hist)
    psd = fits.withColumn(
        "flag", psd_flag(fits.columns, PROFILE_INGEST, bin_width=PSD_BIN_WIDTH)
    )
    obs = Observation()
    psd.observe(obs, F.count("flag").alias("flagged")).write.mode("append").parquet(path)
    return int(obs.get["flagged"])


def ingest_tick(
    spark: SparkSession,
    bins: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
) -> dict[str, int]:
    """Process unseen bins; returns counters for the run report
    (the reference prints these in its knit summary, Rmd:1606-1618)."""
    job = CheckpointedJob(spark, checkpoint_dir, "sample")
    todo = job.pending(bins).cache()
    n_bins = todo.count()
    if n_bins == 0:
        return {"bins": 0, "rois": 0, "psd_flagged": 0}

    rois = explode_bins_to_rois(todo)
    # Full U1-U12 kernel chain (real segmentation → geometry → biovolume);
    # the PSD stage consumes the resulting EquivDiameter like the
    # reference's feature→psd handoff (ifcb_ingest_and_qc.R:500-518).
    features = features_from_images(rois).cache()
    n_rois = features.count()
    features.write.mode("append").parquet(f"{output_dir}/features")

    n_flagged = write_psd(features, f"{output_dir}/psd")
    job.mark_done(todo.select("sample"))
    features.unpersist()
    todo.unpersist()
    return {"bins": n_bins, "rois": n_rois, "psd_flagged": n_flagged}
