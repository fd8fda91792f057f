"""bench.py contract checks: the headline names resolve in the registry
and the summary line fits the bounded stdout tail that is captured."""

from __future__ import annotations

from ifcb_data_pipeline_spark.queries import load_all


def test_bench_summary_line_fits_tail_window():
    """The driver captures only a bounded tail of bench.py's stdout;
    round 6's 3.4 kB line (queries + spreads) overflowed it and the
    round landed no parseable bench number.  Pin the worst-case size of
    the final summary line (every median rendered at max width) well
    under the observed-safe ~2 kB so adding headline queries can't
    silently push it past the window again."""
    import json

    import bench

    worst = json.dumps(
        {
            "metric": "headline_suite_wall_time",
            "value": 99999.999,
            "unit": "sec",
            # r19 format: scalar medians (the r1-16 contract shape the
            # driver's comparator parses; triples moved to their own
            # `headline_query_spread` line, which truncates first)
            "queries": {n: 99999.999 for n in bench.HEADLINE},
            "sf": 0.1,
        }
    )
    # worst-case probe line rides the same tail and must fit WITH the
    # headline: {"metric": "machine_probe", ...} ≈ 160 B
    worst = worst + " " * 170
    assert len(worst) < 1900, (
        f"bench summary line worst-case {len(worst)} B — trim HEADLINE or "
        "drop the min/max digits before it overflows the driver's "
        "tail-capture window (~2 kB) again"
    )


def test_bench_headline_names_resolve():
    """bench.py is driver-executed: a renamed/removed registry entry in
    HEADLINE would crash the round's bench run.  Pin the contract."""
    import bench

    reg = load_all()
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, f"bench.HEADLINE references unknown queries: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline"
