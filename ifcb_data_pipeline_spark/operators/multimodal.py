"""Multimodal (binary) column operators — SURVEY §2.1 S2, §2.9 U-kernels.

Images/audio/video are opaque ``binary`` columns with typed metadata
structs, processed by Arrow-batched ``mapInPandas`` kernels.  The Spark
plumbing — schemas, per-bin → per-ROI expansion, batch shapes, the
ROI-count-sized round-robin spread of bins — is real and tested; pixel
decode is real too (:mod:`.image_codec`: pure-numpy PGM/BMP/raw-slab),
with only compressed container formats (PNG/JPEG) left to an imaging library
(reference kernels: ``ifcb_features/*.py``, e.g. ``biovolume.py:56-158``,
``segmentation.py:117-186``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .image_codec import decode_image  # noqa: F401  (re-export: S2 decode API)

ROI_SCHEMA = T.StructType(
    [
        T.StructField("sample", T.StringType(), False),
        T.StructField("roi_number", T.IntegerType(), False),
        T.StructField("image", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("sample", T.StringType(), False),
        T.StructField("roi_number", T.IntegerType(), False),
        T.StructField("Area", T.DoubleType(), True),
        T.StructField("Biovolume", T.DoubleType(), True),
        T.StructField("EquivDiameter", T.DoubleType(), True),
        T.StructField("Perimeter", T.DoubleType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
    ]
)


#: Floor on ROIs per expansion task.  Per-ROI work downstream of the
#: explode is cheap vectorized numpy (decode/resize/hash — ~0.1 ms/ROI);
#: what dominates tiny tasks is the per-task Python-runner attach, which
#: this box pays ~0.5-1 s for when a full-width wave of chained
#: mapInPandas stages launches at once (measured r18: 32 one-row tasks ×
#: 3 chained nodes = 96 simultaneous worker attaches → 2-15 s/pass; the
#: same pass at data-derived width ≤ 4 is ~0.8 s).  2048 ROIs ≈ 0.2-0.5 s
#: of kernel CPU per task — enough to amortize the attach at any scale.
_ROIS_PER_TASK = 2048


def synthetic_roi_pixels(roi: int):
    """Deterministic fake pixels of ROI number ``roi`` (uint8, h×w):
    repeatable across runs and engines; stands in for the .roi slice."""
    import numpy as np

    w = 8 + (roi % 16)
    h = 8 + (roi * 3 % 16)
    px = (roi * 31 + np.arange(w * h)) % 251
    return px.astype(np.uint8).reshape(h, w)


def explode_bins_to_rois(bins: DataFrame, rois_per_bin_col: str = "n_rois") -> DataFrame:
    """Bin → ROI expansion (S2, the only UDTF-shaped operator): one row per
    ROI.  The payload is a real (deterministic) PGM image so downstream
    kernels exercise the actual decode path, not a byte-length stand-in.

    Bins are spread BEFORE the explode (the bins frame usually arrives
    with the scan's few input splits, and the expansion multiplies rows
    ~25×), but to a SCALE-DERIVED width, not the core-count constant
    (guide §2.2: partitioning must adapt to input size).  The width comes
    from the measured ROI total — one bounded 1-row aggregation job over
    the pre-explosion bins frame (column-pruned scan + partial agg, the
    same cheap-scalar pattern as dedup's max-id) — targeting
    ``_ROIS_PER_TASK`` ROIs per task, capped by the bin count (round-robin
    cannot split a bin) and by the session parallelism (the downstream
    per-ROI work is a CPU-bound map stage; more tasks than cores only add
    Python-runner attach overhead).  A 38-ROI sf0.01 frame gets 1 task
    instead of 32; a 100 TB corpus hits the parallelism cap, which on a
    real cluster is the executor-core total."""
    from .image_codec import encode_pgm

    parallelism = bins.sparkSession.sparkContext.defaultParallelism
    # 1-row bounded driver action: (count, sum) over the PRE-explosion
    # bins frame — never content-scaled ROI rows.  The bins lineage runs
    # once extra here (ADVICE r18, considered): NOT checkpointed, because
    # the stats pass is a column-pruned scalar agg over two narrow
    # columns while a checkpoint would materialize the whole
    # content-scaled bins frame — strictly more I/O for every consumer
    # whose lineage is a pruned scan + filter (all four mm consumers).
    # Deterministic-width concern: every bins frame here derives from a
    # deterministic parquet scan, so both executions see the same rows.
    stats = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(rois_per_bin_col).alias("n_rois"),
    ).first()
    n_bins = int(stats["n_bins"] or 0)
    n_rois = int(stats["n_rois"] or 0)
    width = max(1, min(parallelism, n_bins, -(-n_rois // _ROIS_PER_TASK)))
    bins = bins.repartition(width)  # round-robin: even bin spread

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"sample": [], "roi_number": [], "image": [], "width": [], "height": []}
            for sample, n in zip(pdf["sample"], pdf[rois_per_bin_col]):
                for roi in range(1, int(n) + 1):
                    px = synthetic_roi_pixels(roi)
                    h, w = px.shape
                    out["sample"].append(sample)
                    out["roi_number"].append(roi)
                    out["image"].append(encode_pgm(px))
                    out["width"].append(w)
                    out["height"].append(h)
            yield pd.DataFrame(out)

    return bins.mapInPandas(expand, schema=ROI_SCHEMA)


def extract_features(rois: DataFrame) -> DataFrame:
    """Per-ROI feature extraction harness (U1-U12 shape): Arrow-batched
    mapInPandas with a REAL pixel decode (:mod:`.image_codec`), then
    vectorized numpy math over the decoded dimensions.  The geometric
    formulas are the oracle-mirrorable placeholders (the full kernel
    chain lives in :mod:`.kernels`); the decode, batch shape, schema,
    and partition behavior are production-real."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            dims = [
                decode_image(bytes(blob), wm, hm).shape
                for blob, wm, hm in zip(pdf["image"], pdf["width"], pdf["height"])
            ]
            h = np.array([d[0] for d in dims], dtype="float64")
            w = np.array([d[1] for d in dims], dtype="float64")
            area = w * h * 0.7
            equiv_d = np.sqrt(4.0 * area / np.pi)
            yield pd.DataFrame(
                {
                    "sample": pdf["sample"],
                    "roi_number": pdf["roi_number"],
                    "Area": area,
                    "Biovolume": area * equiv_d * 0.5,
                    "EquivDiameter": equiv_d,
                    "Perimeter": 2.0 * (w + h),
                    # decoded pixel count — invariant to container framing
                    "n_bytes": (w * h).astype("int32"),
                }
            )

    return rois.mapInPandas(features, schema=FEATURE_SCHEMA)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("image", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def sample_video_frames(videos: DataFrame, every_k: int) -> DataFrame:
    """Video → every-k-th-frame expansion (the frame-sample step of a
    multimodal training pipeline).

    The ``payload`` column is a raw frame slab (``n_frames`` × w×h bytes,
    row-major — the layout a demuxer produces); each sampled frame is
    byte-sliced out and re-wrapped as PGM, so a frame decodes with
    :func:`decode_image` like any ROI image.  Container demux
    (mp4/mkv) is an external-library boundary, same policy as PNG/JPEG in
    :mod:`.image_codec`."""
    from .image_codec import encode_pgm

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"video_id": [], "frame_idx": [], "image": [], "width": [], "height": []}
            for vid, n, w, h, payload in zip(
                pdf["video_id"], pdf["n_frames"], pdf["width"], pdf["height"], pdf["payload"]
            ):
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                fsize = int(w) * int(h)
                for f in range(0, int(n), every_k):
                    frame = raw[f * fsize : (f + 1) * fsize].reshape(int(h), int(w))
                    out["video_id"].append(vid)
                    out["frame_idx"].append(f)
                    out["image"].append(encode_pgm(frame))
                    out["width"].append(int(w))
                    out["height"].append(int(h))
            yield pd.DataFrame(out)

    return videos.mapInPandas(expand, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def audio_frame_features(audio: DataFrame, frame: int = 64) -> DataFrame:
    """Audio → per-frame features (the feature-extract step of an audio
    training pipeline): non-overlapping ``frame``-sample windows over a
    signed-8-bit PCM slab, per-frame RMS energy, zero-crossing rate and
    peak amplitude.  Same executor-side shape as the image/video
    kernels — Arrow-batched ``mapInPandas``, numpy inside, no shuffle
    between decode and the first aggregation.  Container demux
    (wav/flac/mp3) is the same external-library boundary as PNG/JPEG
    (:mod:`.image_codec`); the raw-slab layout is what a demuxer emits.
    Incomplete trailing frames are dropped (the fixed-frame convention
    spectrogram pipelines use)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"audio_id": [], "frame_idx": [], "rms": [], "zcr": [], "peak": []}
            for aid, n, payload in zip(
                pdf["audio_id"], pdf["n_samples"], pdf["payload"]
            ):
                x = np.frombuffer(bytes(payload), dtype=np.int8)[: int(n)].astype(
                    np.float64
                )
                nf = len(x) // frame
                if nf == 0:
                    continue
                frames = x[: nf * frame].reshape(nf, frame)
                rms = np.sqrt((frames * frames).mean(axis=1))
                sign = frames >= 0
                zcr = (sign[:, 1:] != sign[:, :-1]).sum(axis=1) / (frame - 1)
                peak = np.abs(frames).max(axis=1).astype(np.int32)
                out["audio_id"].extend([str(aid)] * nf)
                out["frame_idx"].extend(range(nf))
                out["rms"].extend(rms)
                out["zcr"].extend(zcr)
                out["peak"].extend(peak)
            yield pd.DataFrame(out)

    return audio.mapInPandas(kernel, schema=AUDIO_FRAME_SCHEMA)
