"""What the Python driver pays per Column call (``session.get_spark``).

PySpark reads ``spark.python.sql.dataFrameDebugging.enabled`` once per
process, from the first active session, and caches it; so each check runs
in a child Python process of its own and reports one JSON line, its last
on stdout.  The checks count facts, not seconds or megabytes: which
modules the driver imported and which py4j calls a Column expression
sent.
"""

from __future__ import annotations

import json

from tests.conftest import SF_SMOKE, run_python

# Every py4j call the child makes is recorded as "<target id> <method>";
# a static method's target id is "z:" and its class name.
PRELUDE = """
import json, sys
from py4j.java_gateway import JavaMember
from ifcb_data_pipeline_spark.session import get_spark, stop_spark
calls = []
_call = JavaMember.__call__
def _counted(self, *args):
    calls.append(f"{self.target_id} {self.name}")
    return _call(self, *args)
JavaMember.__call__ = _counted
spark = get_spark("footprint-test", cpus=1)
"""


def run_child(body: str, *args: str) -> dict:
    return json.loads(run_python(PRELUDE + body, *args).stdout.splitlines()[-1])


def test_session_turns_off_call_site_capture():
    report = run_child("""
value = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
stop_spark(spark)
print(json.dumps({"value": value}))
""")
    assert report["value"] == "false"


def test_column_calls_send_no_call_site_bookkeeping():
    # The first wrapped call reads the setting (one getActiveSession);
    # the second build is the steady state every later call sees.
    report = run_child("""
from pyspark.sql import functions as F
F.col("x") + F.lit(1)
del calls[:]
F.col("x") + F.lit(1)
sent = list(calls)
stop_spark(spark)
print(json.dumps({"calls": sent}))
""")
    calls = report["calls"]
    assert [c for c in calls if "PySparkCurrentOrigin" in c or "getActiveSession" in c] == []
    assert sorted(c.split()[-1] for c in calls if c.startswith("z:")) == ["col", "lit"]


def test_building_the_headline_frames_imports_no_ipython():
    report = run_child("""
import bench
from ifcb_data_pipeline_spark.queries import load_all
registry = load_all()
for name in bench.HEADLINE:
    registry[name].fn(spark, sys.argv[1])
stop_spark(spark)
print(json.dumps({"ipython": sorted(m for m in sys.modules if m.split(".")[0] == "IPython")}))
""", SF_SMOKE)
    assert report["ipython"] == []
