"""Construction-job pins: the eager Spark jobs a query runs while
``fn(spark, sf_dir)`` builds its DataFrame (localCheckpoints, size
probes, convergence fingerprints).

Job counts are deterministic for a fixed plan, unlike wall clocks on a
shared box, so an added eager job fails here.  The first build of a
query in a session also runs one-off jobs that later builds skip, so
each query is built once to warm up and only the second build is
counted.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# name -> jobs started while the warmed build runs, at sf0.001.
BUILD_JOBS = {
    "dd6_dup_clusters": 6,
    "dd7_dedup_materialize": 7,
    "dd13_star_components": 4,
    "g1_pagerank": 41,
}


def _build_jobs(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_warmed_build_job_count(spark, name):
    from ifcb_data_pipeline_spark.queries import load_all

    fn = load_all()[name].fn
    fn(spark, SF_SMOKE)
    assert _build_jobs(spark, fn, f"build-jobs-{name}") == BUILD_JOBS[name]
