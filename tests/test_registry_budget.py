"""Registry-sweep timing guard.

Times the first 50 registry entries in ``load_all()`` order at sf0.01
(Spark side only — the DuckDB oracle side is cheap by comparison) and
fails if they outgrow the budget, so a reorder or a slow new entry near
the front of the registry can't silently blow up the sweep's wall clock.
"""

from __future__ import annotations

import time

from ifcb_data_pipeline_spark.queries import load_all

PREFIX = 50
BUDGET_S = 90.0


def _sweep(spark, sf_dir, names, reg) -> tuple[float, dict[str, float]]:
    timings: dict[str, float] = {}
    t0 = time.monotonic()
    for name in names:
        t = time.monotonic()
        df = reg[name].fn(spark, sf_dir)
        df.collect()
        timings[name] = time.monotonic() - t
    return time.monotonic() - t0, timings


def test_prefix_sweep_within_budget(spark, sf_dir):
    """Retry-once hygiene (the bench.py spread-retry rule, VERDICT r17
    item 8): this box's co-tenancy swings parallel throughput up to 3×
    between windows (MACHINE_BASELINE.jsonl), and a single sweep in a
    bad window reads as a 130 s "regression" on unchanged code (r18
    forensics: the warm sweep is ~41 s in a clean window even after
    running the WHOLE registry first, so the overruns were window
    draws, not code or JVM aging).  One overrun triggers exactly one
    re-sweep — warm, so it also sheds the cold-session first-query
    cost the driver's fresh-process gate amortizes differently — and
    the better draw is judged.  A real prefix regression fails both."""
    from bench import machine_probe

    reg = load_all()
    names = list(reg)[:PREFIX]
    total, timings = _sweep(spark, sf_dir, names, reg)
    if total >= BUDGET_S:
        probe_mid = machine_probe()
        retry_total, retry_timings = _sweep(spark, sf_dir, names, reg)
        # probe BOTH windows (ADVICE r18): the failure message must
        # describe the sweep actually judged, not the discarded draw.
        probe_after = machine_probe()
        if retry_total < total:
            total, timings = retry_total, retry_timings
        slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        assert total < BUDGET_S, (
            f"first-{PREFIX} prefix took {total:.1f}s best-of-2 "
            f"(> {BUDGET_S}s budget; probe between sweeps {probe_mid}, "
            f"after retry {probe_after}); "
            f"slowest: {[(n, round(s, 2)) for n, s in slowest]}"
        )


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
