from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    """One session for the run; teardown waits for the driver JVM to exit
    (including a first run's class-archive dump), so none outlives it."""
    from ifcb_data_pipeline_spark.session import get_spark, stop_spark

    spark = get_spark("ifcb-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark
    stop_spark(spark)


@pytest.fixture(scope="session")
def duck():
    from tests.oracle_harness import duckdb_connection

    return duckdb_connection(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
