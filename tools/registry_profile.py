"""Registry-wide single-pass wall-clock profile (the round-14 sleeper check).

The bench covers the 31 headline queries; this times ALL registered
queries end-to-end (``toPandas()``) in one session at the given SF to
catch sleepers outside the headline suite — a query whose cost drifted
without any bench row noticing.  One pass, cold within the session, in
registry order, so successive runs are comparable.

Usage: python tools/registry_profile.py [SF_DIR] [label]
Prints one JSON line: {"label": ..., "sf_dir": ..., "total_s": ...,
"queries": {name: seconds, ...}} and a top-15 tail table to stderr.
Appends the JSON line to REGISTRY_PROFILE.jsonl for round-over-round
comparison.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    label = sys.argv[2] if len(sys.argv) > 2 else "adhoc"

    from ifcb_data_pipeline_spark.queries import load_all
    from ifcb_data_pipeline_spark.session import get_spark

    reg = load_all()
    spark = get_spark("registry-profile", cpus=32)
    # Warm the session before timing: the first measured query otherwise
    # absorbs JVM/codegen/python-worker startup (~3-4 s locally) and
    # shows up as a phantom tail entry (round 15: a30's 7.99 s "tail"
    # reading was exactly this slot-1 artifact; warm steady-state 1.6 s).
    # Warm BOTH execution paths explicitly — a codegen query and an
    # Arrow/applyInPandas query — so whichever path the first measured
    # entry uses, its startup cost is already paid; and don't crash on
    # an empty registry.
    if not reg:
        print(json.dumps({"label": label, "sf_dir": sf_dir, "error": "empty registry"}))
        return
    for warm in ("a11_distinct", "w8_ewma_smoothing"):
        if warm in reg:
            reg[warm].fn(spark, sf_dir).toPandas()
    next(iter(reg.values())).fn(spark, sf_dir).toPandas()
    times: dict[str, float] = {}
    t_all = time.monotonic()
    for name, q in reg.items():
        t0 = time.monotonic()
        q.fn(spark, sf_dir).toPandas()
        times[name] = round(time.monotonic() - t0, 3)
    total = round(time.monotonic() - t_all, 1)

    row = {"label": label, "sf_dir": sf_dir, "total_s": total, "queries": times}
    line = json.dumps(row)
    print(line)
    with open(REPO / "REGISTRY_PROFILE.jsonl", "a") as f:
        f.write(line + "\n")

    tail = sorted(times.items(), key=lambda kv: -kv[1])[:15]
    print("top-15 tail:", file=sys.stderr)
    for name, s in tail:
        print(f"  {s:6.2f}  {name}", file=sys.stderr)
    print(f"total {total}s / {len(times)} queries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
