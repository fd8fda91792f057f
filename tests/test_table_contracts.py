"""The declared table contract (``sources/tables.SCHEMAS``) against the
parquet footers of every shipped scale factor.

Loads read with the declared schema and never look at a footer, so a
data refresh that changes a column type would otherwise surface as a
scan failure or a silent cast deep inside some query.  Here it fails
by table name.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType

from ifcb_data_pipeline_spark.sources.tables import (
    SCHEMAS,
    TABLES,
    load_table,
    stream_schema,
)
from tests.conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
@pytest.mark.parametrize("table", TABLES)
def test_declared_schema_matches_footer(spark, sf, table):
    inferred = spark.read.parquet(os.path.join(TESTDATA, sf, f"{table}.parquet")).schema
    assert inferred == StructType.fromDDL(SCHEMAS[table])


def test_load_table_runs_no_job(spark):
    sc = spark.sparkContext
    group = "table-contract-loads"
    sc.setJobGroup(group, group)
    try:
        frames = [load_table(spark, SF_SMOKE, t) for t in TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [f.schema for f in frames] == [StructType.fromDDL(SCHEMAS[t]) for t in TABLES]


def test_events_stream_schema_has_timestamp_event_time():
    # withWatermark / session_window / dropDuplicatesWithinWatermark
    # reject timestamp_ntz event time.
    assert stream_schema("events") == (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
