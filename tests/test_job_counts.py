"""Job-count pins for the bench.HEADLINE queries at sf0.001.

Two phases are pinned separately: construction, the eager Spark jobs a
query runs while ``fn(spark, sf_dir)`` builds its DataFrame
(localCheckpoints, size probes, convergence fingerprints); and
execution, the jobs started when the built frame is written to the
``noop`` sink the way ``bench.run_query`` writes it.

Job counts are deterministic for a fixed plan, unlike wall clocks on a
shared box, so an added job fails here.  The first build and run of a
query in a session also start one-off jobs that later ones skip, so
each query is warmed up once and only the second pass is counted.  The
pins hold at 2, 4 and 8 cores.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# name -> jobs started while the warmed build runs, at sf0.001: every
# headline query of bench.py, plus the closure and PageRank queries.
# Table loads declare their schema and start no job, so what remains is
# the queries' own eager work.
BUILD_JOBS = {
    "a1_biovolume_rollup": 0,
    "a4_monthly_stats": 0,
    "dd11_span_dedup": 0,
    "dd13_star_components": 3,
    "dd2_minhash_lsh": 3,
    "dd6_dup_clusters": 5,
    "dd7_dedup_materialize": 5,
    "dp8_exact_quantiles": 5,
    "g1_pagerank": 38,
    "j1_enrichment_chain": 0,
    "j14_bucketed_range_join": 0,
    "j17_point_in_time_join": 0,
    "j4_asof_join": 0,
    "j5_interval_join": 0,
    "mm9_perceptual_dedup": 2,
    "o8_zorder_layout": 0,
    "p1_shark_export": 0,
    "p2_hab_alert": 0,
    "p3_dashboard_metadata": 0,
    "pk1_sequence_packing": 0,
    "pk2_document_chunking": 0,
    "sim10_pq_adc": 2,
    "sim1_cosine_topk": 0,
    "sim8_kmeans_refine": 0,
    "sim9_quantized_rerank": 0,
    "sp8_importance_resampling": 4,
    "tp1_training_corpus": 0,
    "tp2_multimodal_corpus": 3,
    "tp3_incremental_refresh": 0,
    "tp4_curriculum_order": 3,
    "tp5_funnel_report": 1,
    "tx13_bm25_topk": 2,
    "tx2_quality_score": 0,
    "w1_adjacency_removal": 0,
}


# name -> jobs started while the warmed built frame is written to the
# noop sink, at sf0.001.
EXEC_JOBS = {
    "a1_biovolume_rollup": 4,
    "a4_monthly_stats": 4,
    "dd11_span_dedup": 4,
    "dd13_star_components": 4,
    "dd2_minhash_lsh": 4,
    "dp8_exact_quantiles": 8,
    "j14_bucketed_range_join": 5,
    "j17_point_in_time_join": 2,
    "j1_enrichment_chain": 7,
    "j4_asof_join": 5,
    "j5_interval_join": 3,
    "mm9_perceptual_dedup": 2,
    "o8_zorder_layout": 2,
    "p2_hab_alert": 8,
    "p3_dashboard_metadata": 3,
    "pk1_sequence_packing": 2,
    "pk2_document_chunking": 1,
    "sim10_pq_adc": 5,
    "sim1_cosine_topk": 4,
    "sim8_kmeans_refine": 8,
    "sim9_quantized_rerank": 5,
    "sp8_importance_resampling": 5,
    "tp1_training_corpus": 2,
    "tp2_multimodal_corpus": 9,
    "tp3_incremental_refresh": 1,
    "tp4_curriculum_order": 5,
    "tp5_funnel_report": 4,
    "tx13_bm25_topk": 10,
    "tx2_quality_score": 1,
    "w1_adjacency_removal": 2,
}
# p1_shark_export runs 10 jobs in most runs and 11 in about one of eight
# at a fixed core count.  The race is in its last join,
# ``rolled.join(hdr_geo, "sample")`` (plans/shark_export.py), planned as
# a shuffled join with a hashpartitioning(sample) exchange on each side.
# At sf0.001 the ``rolled`` aggregate is small, so once its shuffle
# stage finishes AQE re-plans the join as a broadcast of ``rolled`` and
# drops the ``hdr_geo`` exchange, which the final stage then pipelines:
# 10 jobs.  When ``hdr_geo``'s inputs (the date-window shuffle and the
# patch/geo broadcasts) finish first, AQE has already submitted that
# exchange as a shuffle stage and keeps it: one extra job (a skipped
# stage + the exchange's map stage), and the final save job reads it
# (3 stages, one task each).  Which side finishes first is stage
# timing, not the plan; a broadcast hint on ``rolled`` would fix the
# count but broadcast a fact-scale frame at scale.
UNPINNED_EXEC = {"p1_shark_export"}


def _jobs(spark, action, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
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
    got = _jobs(spark, lambda: fn(spark, SF_SMOKE), f"build-jobs-{name}")
    assert got == BUILD_JOBS[name]


@pytest.mark.parametrize("name", sorted(EXEC_JOBS))
def test_warmed_execution_job_count(spark, name):
    from bench import run_query
    from ifcb_data_pipeline_spark.queries import load_all

    fn = load_all()[name].fn
    run_query(fn(spark, SF_SMOKE))
    df = fn(spark, SF_SMOKE)
    got = _jobs(spark, lambda: run_query(df), f"exec-jobs-{name}")
    assert got == EXEC_JOBS[name]


def test_every_headline_query_is_pinned():
    import bench

    assert set(bench.HEADLINE) <= set(BUILD_JOBS)
    assert set(bench.HEADLINE) == set(EXEC_JOBS) | UNPINNED_EXEC
