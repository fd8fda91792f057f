"""Capture ``explain("formatted")`` for queries into plans/r<N>/.

Usage: python tools/plan_capture.py <round> <suffix> [query ...]

Writes ``plans/r<round>/<query>_<suffix>.txt`` for each named query
(default: the bench HEADLINE set).  Plan capture is driver-only — no
job runs — so it is safe to run in a contended window.

The output is scratch for before/after plan diffs: ``/plans/`` is
git-ignored, and the plan shapes that matter are pinned in
``tests/test_physical_plans.py``.
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "18"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = "/root/testdata/sf0.1"

    from bench import HEADLINE
    from ifcb_data_pipeline_spark.queries import load_all
    from ifcb_data_pipeline_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE
    out_dir = REPO / "plans" / f"r{rnd}"
    out_dir.mkdir(parents=True, exist_ok=True)

    reg = load_all()
    spark = get_spark("plan-capture", cpus=4)
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
