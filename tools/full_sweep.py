"""One-command round verification battery.

Runs the complete verification evidence set in order, stopping at the
first failure:

1. third-layer anchor audit (every registry entry has a law/replay test)
2. full-registry driver-sim at sf0.001 / sf0.01 / sf0.1 (bit-level
   oracle mirror, default config)
3. full-registry adversarial sweep (AQE off, partitions=7) at all
   three SFs
4. full-registry driver-sim at 32 threads (a third merge order) at
   sf0.01
5. full-registry adversarial at sf0.01 under the stacked hostile axes
   (broadcast-off + codegen-off + tz-offset; round-15 standing leg)
6. the scale-discipline lints

Usage: python tools/full_sweep.py [--fast] [--grid]
  --fast skips the sf0.1 legs (for mid-round iteration; the final
  pre-commit run must be full).
  --grid additionally closes the merge-order grid: adversarial legs
  at partitions 3 and 13 for every selected SF (round-14 precedent —
  five partial-merge orders x three scales, all green on the frozen
  registry).  Adds ~15 min full.

Each leg shells out to the existing single-purpose tools so their
output/exit conventions stay canonical; this is orchestration only.
Expected wall-clock: ~23 min full, ~12 min --fast (local[32] box;
measured round 15 after the perf batches — was ~35/~17 at round 13).
"""

from __future__ import annotations

import argparse
import os
import pathlib
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def run(label: str, cmd: list[str], env: dict | None = None) -> bool:
    t0 = time.monotonic()
    e = dict(os.environ)
    if env:
        e.update(env)
    p = subprocess.run(cmd, cwd=REPO, env=e, capture_output=True, text=True)
    dt = time.monotonic() - t0
    # the meaningful summary is stdout's last non-empty line; stderr
    # carries Spark progress bars
    lines = [ln for ln in p.stdout.strip().splitlines() if ln.strip()] or [
        ln for ln in p.stderr.strip().splitlines() if ln.strip()
    ]
    tail = lines[-1:] or [""]
    status = "OK " if p.returncode == 0 else "FAIL"
    print(f"[{status}] {label} ({dt:.0f}s): {tail[0]}", flush=True)
    if p.returncode != 0:
        # surface the per-query FAIL/ERROR lines FIRST — the round-14
        # flake chase lost a failing query's name because the raw tail
        # below was all Spark progress bars.  Scan BOTH streams (the
        # flake was a Py4J/executor exception, which lands on stderr)
        # and cap the surfaced lines so a log-noisy leg can't dump
        # thousands of Spark ERROR lines ahead of the tail.
        hits = [
            ln
            for ln in (p.stdout.splitlines() + p.stderr.splitlines())
            if "FAIL" in ln or "ERROR" in ln
        ]
        for ln in hits[:50]:
            print(ln)
        if len(hits) > 50:
            print(f"... ({len(hits) - 50} more FAIL/ERROR lines suppressed)")
        print((p.stdout + p.stderr)[-3000:])
    return p.returncode == 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true", help="skip the sf0.1 legs")
    ap.add_argument(
        "--grid",
        action="store_true",
        help="also run adversarial legs at partitions 3 and 13 per SF",
    )
    args = ap.parse_args()
    sfs = SFS[:2] if args.fast else SFS
    py = sys.executable

    legs: list[tuple[str, list[str], dict | None]] = [
        ("anchor_audit", [py, "tools/anchor_audit.py"], None),
    ]
    for sf in sfs:
        legs.append((f"driver-sim {sf}", [py, "tools/driver_sim.py", sf], None))
    for sf in sfs:
        legs.append(
            (
                f"adversarial {sf}",
                [py, "tools/adversarial_check.py", "--sf", sf],
                None,
            )
        )
    if args.grid:
        for parts in ("3", "13"):
            for sf in sfs:
                legs.append(
                    (
                        f"adversarial {sf} @partitions={parts}",
                        [
                            py,
                            "tools/adversarial_check.py",
                            "--sf",
                            sf,
                            "--partitions",
                            parts,
                        ],
                        None,
                    )
                )
    legs.append(
        (
            "driver-sim sf0.01 @32 threads",
            [py, "tools/driver_sim.py", "/root/testdata/sf0.01"],
            {"SPARK_GRAFT_CPUS": "32"},
        )
    )
    # round-15 standing leg: the stacked hostile axes (auto-broadcast
    # off -> shuffle joins everywhere unforced, interpreted expression
    # path, non-UTC session start) at the driver's compare SF
    legs.append(
        (
            "adversarial sf0.01 @hostile-axes",
            [
                py,
                "tools/adversarial_check.py",
                "--sf",
                "/root/testdata/sf0.01",
                "--hostile",
                "broadcast-off,codegen-off,tz-offset",
            ],
            None,
        )
    )
    legs.append(
        (
            "scale-discipline lints",
            [py, "-m", "pytest", "tests/test_scale_discipline_lints.py", "-q"],
            None,
        )
    )

    for label, cmd, env in legs:
        if not run(label, cmd, env):
            print(f"--- full-sweep: FAILED at '{label}' ---")
            return 1
    print(f"--- full-sweep: ALL GREEN ({len(legs)} legs) ---")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
