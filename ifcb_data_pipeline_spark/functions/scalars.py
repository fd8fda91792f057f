"""Scalar column functions — SURVEY §2.8 C8-C13.

All pure Catalyst expressions (codegen'd JVM-side); the ``signif`` helper
reproduces R's significant-digit rounding without a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def f1_score(precision: Column, recall: Column) -> Column:
    """``2*P*R/(P+R)`` with NaN→null (reference:
    ``ifcb-data-pipeline.Rmd:906-909``)."""
    denom = precision + recall
    f1 = (2 * precision * recall) / denom
    # Guard the denominator explicitly: under ANSI mode (Spark 4 default)
    # 0/0 raises instead of producing the NaN the reference nulls out.
    return F.when(denom == 0, F.lit(None).cast("double")).otherwise(f1)


def dround(col: Column, d: int) -> Column:
    """Deterministic cross-engine rounding: ``floor(x·10^d + 0.5)/10^d`` as
    pure IEEE-double arithmetic.  Native ``round`` differs between engines
    (Spark rounds the exact binary expansion via BigDecimal HALF_UP; DuckDB
    rounds the shortest decimal representation), so values like 15139.495
    round differently.  This formula is bit-identical in both engines given
    identical inputs; pick ``d`` coarse enough that summation-order noise
    (~1e-12 relative) cannot straddle a boundary.  The DuckDB twin is
    ``queries._util.dround_sql``."""
    f = float(10.0**d)
    return F.floor(col * f + F.lit(0.5)) / F.lit(f)


def signif(x: Column, digits: int = 6) -> Column:
    """R's ``signif(x, digits)`` — round to significant digits, with 0
    passed through (reference uses signif(·, 6) for BIOVOL/C_CONC at
    ``ifcb-data-pipeline.Rmd:1398-1414``).

    Uses the repo-wide floor-form rounding
    ``floor(x·10^d + 0.5)/10^d`` (see :func:`dround`) rather
    than ``F.round`` — Spark's BigDecimal HALF_UP on the shortest decimal
    repr diverges from the DuckDB oracle on boundary values like 1005.0,
    while the floor form is bit-identical IEEE arithmetic in both engines.
    """
    magnitude = F.floor(F.log10(F.abs(x)))
    f = F.pow(F.lit(10.0), F.lit(digits - 1))
    scaled = x / F.pow(F.lit(10.0), magnitude)
    rounded = F.floor(scaled * f + F.lit(0.5)) / f * F.pow(F.lit(10.0), magnitude)
    return F.when(x == 0, x).otherwise(rounded)


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (reference:
    ``code/plot/compare_microscopy.R:61-64`` uses geosphere::distHaversine/1000).

    Native column arithmetic — usable as a join post-filter predicate (J8).
    """
    r_earth = 6371.0088
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return 2 * r_earth * F.asin(F.sqrt(a))


def null_if_sentinel(x: Column, *sentinels: float) -> Column:
    """Sentinel normalization (F8): ``-999 → null`` (and ``0 → null`` for
    ph/pco2) — reference ``ifcb-data-pipeline.Rmd:1333-1339``."""
    out = x
    for s in sentinels or (-999.0,):
        out = F.nullif(out, F.lit(s))
    return out


def normalize_encoding(s: Column) -> Column:
    """Encoding fixes (C11): ``å/ä→a``, ``ö→o``, ``µ→u``, backslash→slash
    (reference: ``ifcb-data-pipeline.Rmd:862-891,1426``;
    ``ifcb_ingest_and_qc.R:474``).  Normalize once at ingest."""
    return F.translate(s, "åäöÅÄÖµ\\", "aaoAAOu/")
