"""Non-UTC session-timezone parity for the _util.tables UTC forcing.

Every registered query loads its inputs through ``_util.tables``, which
forces ``spark.sql.session.timeZone = UTC`` because the round driver's
session timezone is unknown while the DuckDB oracles are timezone-naive
UTC (the contract is documented at ``queries/_util.py``).  The shipped
harnesses all START in UTC, so the forcing was latent — proven only by
inspection plus the round-15 ``adversarial_check --hostile tz-offset``
leg, which lives outside the pytest suite.

This test makes the hazard fire in-suite.  The shipped ``ts`` columns
read as TIMESTAMP_NTZ (parquet ``timestamp[us]`` without zone), which
is session-tz independent — date/month extraction on them can NEVER
desync.  The live hazard surface is the NTZ→TIMESTAMP casts feeding
``F.unix_micros`` (a22's decay ages, a23's epoch-weeks, j4/j14/j17's
as-of microseconds, mm11's frame times): the cast interprets the NTZ
wall-clock IN THE SESSION TIMEZONE, so a non-UTC session shifts every
epoch by the zone offset while the DuckDB oracle's ``epoch_us`` stays
UTC.  The session timezone is flipped to America/New_York before
invoking those registered queries, which must still compare
driver-strict against their oracles.  A guard proves the plant has
teeth: ``unix_micros(ts::timestamp)`` genuinely differs between the
two zones on the shipped events, so deleting the forcing in
``_util.tables`` reds this file (verified during construction).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.queries import REGISTRY, load_all
from tests.oracle_harness import compare, duckdb_connection

load_all()

SF_DIR = "/root/testdata/sf0.001"

# registered queries whose plans contain the NTZ→TIMESTAMP cast feeding
# unix_micros (the session-tz-sensitive construction), plus session
# windows and watermark-relative lateness for breadth, plus the
# event-time streams, which read ts as TIMESTAMP (``_util.streams``)
TZ_SENSITIVE = [
    "a22_decayed_engagement",
    "a23_cohort_retention",
    "j4_asof_join",
    "w7_native_session_window",
    "i11_late_data_audit",
    "st1_stream_windowed_counts",
    "st3_watermarked_append",
    "st4_stream_stream_join",
    "st5_streaming_dedup",
    "st6_sliding_window_rates",
    "st7_stream_static_join",
    "st8_streaming_sessions",
]


@pytest.fixture()
def ny_session(spark):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_registered_query_agrees_from_non_utc_session(name, ny_session):
    qdef = REGISTRY[name]
    assert qdef.oracle is not None
    con = duckdb_connection(SF_DIR)
    ok, msg = compare(qdef.fn(ny_session, SF_DIR), con, qdef.oracle)
    assert ok, f"{name} from an America/New_York session: {msg}"
    # the forcing must have actually run: queries leave the session UTC
    assert ny_session.conf.get("spark.sql.session.timeZone") == "UTC"


def test_plant_has_teeth(spark):
    """unix_micros(ts::timestamp) genuinely differs NY vs UTC.

    ``ts`` is TIMESTAMP_NTZ, so the cast to TIMESTAMP interprets the
    wall-clock in the session zone; if this ever stops shifting epochs
    (e.g. the tables gain tz-aware timestamps), the parity tests above
    would pass vacuously and this guard flags the rot.
    """
    before = spark.conf.get("spark.sql.session.timeZone")
    expr = F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    try:
        events = spark.read.parquet(f"{SF_DIR}/events.parquet")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = [r["us"] for r in events.select(expr).collect()]
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = [r["us"] for r in events.select(expr).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    # NY is UTC-4/-5: every interpreted epoch shifts by whole hours
    assert all(n - u in (4 * 3_600_000_000, 5 * 3_600_000_000) for u, n in zip(utc, ny))
