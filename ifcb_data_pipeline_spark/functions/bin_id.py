"""Bin-id (sample/pid) parsing — SURVEY §2.8 C6/C7.

The reference encodes the sample timestamp and instrument number inside the
key ``D<yyyymmdd>T<hhmmss>_IFCB<n>`` and re-parses it everywhere
(reference: ``code/ifcb_ingest_and_qc.R:211-214``, regex variants at
``:194,406``; WHOI legacy format at
``code/annotations/get_whoi_plankton.R:50-67``).

Implemented as pure Catalyst column expressions (``regexp_extract`` +
``to_timestamp``) so the parse participates in whole-stage codegen and can
be constant-folded / pushed down; no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BIN_ID_PATTERN = r"^D(\d{8})T(\d{6})_IFCB(\d+)$"


def _bin_id_struct(ts: Column, valid: Column, instr: Column) -> Column:
    """The parsed-id struct both id formats share, from the sample
    timestamp, the validity flag and the instrument digits."""
    return F.struct(
        ts.alias("timestamp"),
        F.to_date(ts).alias("date"),
        F.year(ts).alias("year"),
        F.month(ts).alias("month"),
        F.dayofmonth(ts).alias("day"),
        F.when(valid, F.date_format(ts, "HH:mm:ss")).alias("time"),
        F.when(valid, F.concat(F.lit("IFCB"), instr)).alias("ifcb_number"),
        valid.alias("valid"),
    )


def parse_bin_id(pid: Column | str) -> Column:
    """``D20240423T115846_IFCB127`` → struct<timestamp, date, year, month,
    day, time, ifcb_number, valid>.

    Invalid ids produce null fields and ``valid = false`` (the reference
    regex-filters them away, ``ifcb_ingest_and_qc.R:194``).
    """
    pid = F.col(pid) if isinstance(pid, str) else pid
    date_part = F.regexp_extract(pid, BIN_ID_PATTERN, 1)
    time_part = F.regexp_extract(pid, BIN_ID_PATTERN, 2)
    instr = F.regexp_extract(pid, BIN_ID_PATTERN, 3)
    valid = date_part != ""
    ts = F.when(valid, F.to_timestamp(F.concat(date_part, time_part), "yyyyMMddHHmmss"))
    return _bin_id_struct(ts, valid, instr)


def make_bin_id(ts: Column, ifcb_number: Column | int) -> Column:
    """Inverse of :func:`parse_bin_id` — used to synthesize keys in tests."""
    if isinstance(ifcb_number, int):
        ifcb_number = F.lit(ifcb_number)
    return F.concat(
        F.lit("D"),
        F.date_format(ts, "yyyyMMdd"),
        F.lit("T"),
        F.date_format(ts, "HHmmss"),
        F.lit("_IFCB"),
        ifcb_number.cast("string"),
    )


LEGACY_PATTERN = r"^IFCB(\d+)_(\d{4})_(\d{3})_(\d{6})$"


def parse_legacy_bin_id(pid: Column | str) -> Column:
    """WHOI legacy format ``IFCB1_2014_188_222013`` (instrument, year,
    day-of-year, HHMMSS — reference:
    ``code/annotations/get_whoi_plankton.R:50-67``) → same struct shape as
    :func:`parse_bin_id` (day-of-year resolved via date arithmetic)."""
    pid = F.col(pid) if isinstance(pid, str) else pid
    instr = F.regexp_extract(pid, LEGACY_PATTERN, 1)
    year = F.regexp_extract(pid, LEGACY_PATTERN, 2)
    doy = F.regexp_extract(pid, LEGACY_PATTERN, 3)
    hms = F.regexp_extract(pid, LEGACY_PATTERN, 4)
    valid = instr != ""
    date = F.date_add(
        F.to_date(F.concat(year, F.lit("-01-01"))), doy.cast("int") - 1
    )
    ts = F.when(
        valid,
        F.to_timestamp(
            F.concat(F.date_format(date, "yyyyMMdd"), hms), "yyyyMMddHHmmss"
        ),
    )
    return _bin_id_struct(ts, valid, instr)


def strip_instrument(pid: Column | str) -> Column:
    """``sapply(strsplit(sample, "_"), [, 1)`` — drop the instrument suffix
    (reference: ``ifcb-data-pipeline.Rmd:1083``)."""
    pid = F.col(pid) if isinstance(pid, str) else pid
    return F.split(pid, "_").getItem(0)
