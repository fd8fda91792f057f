"""Self-test of the benchmark on a small configuration: sf0.001, four
headline queries, one cold pass, 10-ROI ticks.  About four minutes on
4 cores:

    python3 perfbench/selftest.py

Checks that
* every end-to-end and per-layer metric is printed with its unit, and the
  untraced runs report no failures;
* count metrics repeat exactly between two traced runs of the same seed;
* a query that raises is counted as failed and the run goes on;
and prints the trace overhead (traced over untraced cold pass, wall and CPU
time).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

QUERIES = ["p2_hab_alert", "a4_monthly_stats", "tx2_quality_score", "pk2_document_chunking"]
INGEST = {"fresh": 2, "bins": 2, "rois": 10}


def args(workload: str, trace: int):
    return bench.parse_args(["--workload", workload, "--seed", "1", "--seconds", "0",
                             "--trace", str(trace)])


def invoke(workload: str, trace: int) -> tuple[dict, dict]:
    """(report line, result line) of one small run."""
    lines = bench.run_once(args(workload, trace), QUERIES, INGEST)
    return lines[1]["report"], lines[-1]


def check_units(result: dict, expected: dict[str, str], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected, f"{what}: metrics/units {got} != {expected}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def count_metrics(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items() if v["unit"] == "count"}


def check_injected_failure() -> None:
    """A raising query is counted into failed and the run completes."""
    work = os.path.join(bench.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    bench.prepare_environment(work, trace=False)
    try:
        from ifcb_data_pipeline_spark.queries import QueryDef

        run = bench.Run(args("headline", 0), work)
        run.setup()
        try:
            def boom(spark, sf_dir):
                raise RuntimeError("injected failure")

            run.registry = dict(run.registry, injected_failure=QueryDef(boom, None))
            run.query_workload(["injected_failure", "a4_monthly_stats"])
        finally:
            run.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert (run.attempted, run.failed) == (2, 1), (run.attempted, run.failed, run.errors)
    assert all("injected failure" in e for e in run.errors), run.errors


def main() -> int:
    for workload in bench.WORKLOADS:
        report, plain = invoke(workload, trace=0)
        check_units(plain, bench.END_TO_END, f"{workload} untraced")
        assert plain["correct"] and plain["failed"] == 0, plain
        _, traced = invoke(workload, trace=1)
        check_units(traced, bench.PER_LAYER, f"{workload} traced")
        _, again = invoke(workload, trace=1)
        assert count_metrics(traced) == count_metrics(again), (
            f"{workload}: {count_metrics(traced)} != {count_metrics(again)}")
        layer = {k: v["value"] for k, v in traced["metrics"].items()}
        print(json.dumps({
            "workload": workload,
            "trace_overhead_frac": layer["trace.cold_pass_s"] / report["cold_pass_s"] - 1.0,
            "trace_overhead_cpu_frac": (layer["trace.cold_pass_cpu_s"]
                                        / plain["metrics"]["cold_pass_cpu_s"]["value"] - 1.0),
            "counts": count_metrics(traced)}))
    check_injected_failure()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
