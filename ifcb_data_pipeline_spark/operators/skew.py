"""Skew-mitigation combinators — SURVEY §7.3 ("a bloom day produces huge
bins").

AQE's skew-join handling covers sort-merge joins automatically; these
helpers cover what it doesn't:

* :func:`salted_aggregate` — two-stage aggregation for skewed group
  keys: partial aggregate on (key, salt), final on key.  Works for any
  algebraic aggregate list (sum/count/min/max).
* :func:`fan_out` — raise map-side parallelism when a scan's split count
  caps it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str | None, str, str]],
    salt_mod: int = 16,
    salt_source: Column | None = None,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs``: output column → (source column or None for count,
    partial fn, final fn), e.g.
    ``{"n": (None, "count", "sum"), "total": ("x", "sum", "sum"),
    "mx": ("x", "max", "max")}``.
    The salt defaults to a deterministic hash of ``spark_partition_id``
    — uniform without randomness, stable under task retries.
    """
    salt = (
        salt_source
        if salt_source is not None
        else F.pmod(F.crc32(F.concat_ws("§", *keys, F.spark_partition_id())), salt_mod)
    )
    salted = df.withColumn("__salt", salt)
    partial_aggs = []
    for out, (src, pfn, _) in aggs.items():
        arg = F.lit(1) if src is None else F.col(src)
        partial_aggs.append(getattr(F, pfn)(arg).alias(f"__p_{out}"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    final_aggs = [
        getattr(F, ffn)(f"__p_{out}").alias(out)
        for out, (_, _, ffn) in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*final_aggs)


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string ("128MB", "4194304b", "1g")."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan's split count from ``inputFiles()`` + the file
    source confs — the same arithmetic as Spark's
    ``FilePartition.maxSplitBytes`` + first-fit packing — WITHOUT
    touching ``df.rdd`` (which converts the frame and forces physical
    planning per call).

    Returns None when the files cannot be stat'ed (non-local scheme, or
    an in-memory frame with no files) — the caller treats that as
    "splits are plentiful", which is the truth for every at-scale
    object-store layout.
    """
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        path = f
        if "://" in f or f.startswith("file:"):
            parsed = urlparse(f)
            if parsed.scheme not in ("file", ""):
                return None
            path = unquote(parsed.path)
        if not os.path.exists(path):
            return None
        sizes.append(os.path.getsize(path))
    conf = df.sparkSession.conf
    max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    try:
        min_part_num = int(conf.get("spark.sql.files.minPartitionNum"))
    except Exception:
        min_part_num = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total / max(1, min_part_num)
    max_split = int(min(max_pb, max(open_cost, bytes_per_core)))
    splits: list[int] = []
    for size in sizes:
        n_full, rem = divmod(size, max_split)
        splits.extend([max_split] * int(n_full))
        if rem > 0 or size == 0:
            splits.append(int(rem))
    splits.sort(reverse=True)
    # Bin-pack exactly like FilePartition.getFilePartitions (ADVICE r16):
    # the close test compares accumulated size + the NEXT split's LENGTH
    # (no open cost) against maxSplitBytes, and the open cost is added
    # to the accumulator only after the split is placed.  Assumes a
    # splittable source (true for parquet, the only format fan_out's
    # call sites scan; a non-splittable codec would yield one task per
    # file and this estimate would under-count).
    parts, acc, opened = 0, 0, False
    for s in splits:
        if opened and acc + s > max_split:
            parts += 1
            acc, opened = 0, False
        acc += s + open_cost
        opened = True
    if opened:
        parts += 1
    return max(1, parts)


def fan_out(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism when the SOURCE's split count caps it.

    A parquet file is splittable only at row-group boundaries; the local
    testdata tables are single-row-group, so an expensive narrow stage
    downstream of the scan (explode + per-trigram hashing, tokenize)
    runs on ONE task no matter how many cores the session has.  When the
    scan's split count is already ≥ the session parallelism — every
    realistic at-scale layout, where splits ≫ cores — this is a NO-OP
    and adds no shuffle; only a parallelism-starved scan pays one small
    round-robin exchange of the raw rows to unlock the cores.  Opt-in
    per call site (not folded into the table loader) so unchanged
    queries keep byte-identical plans across rounds.

    MUST be applied on scan-adjacent DataFrames (all call sites comply):
    the split estimate reads the frame's ``inputFiles()``, so it speaks
    for the scan, not for any shuffle in between.  The estimate is
    logical-plan-only — no ``df.rdd`` probe (which would force physical
    planning per call and report pre-AQE counts downstream of a
    shuffle).  When the input files cannot be stat'ed (object store,
    in-memory frame) the scan is assumed un-starved and the call is a
    no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimate_scan_partitions(df)
    if est is None or est >= target:
        return df
    return df.repartition(target)
