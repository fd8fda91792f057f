from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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


def run_python(code: str, *args: str) -> subprocess.CompletedProcess:
    """Run ``code`` in a child Python process with the checkout on its
    path, for what only a fresh process shows: state PySpark caches per
    process, or what the driver JVM writes to its own stderr."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p))
    p = subprocess.run([sys.executable, "-c", code, *args], env=env, cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p
