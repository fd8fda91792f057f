"""Adversarial-config oracle re-verify (the r8-precedent sweep, as a tool).

The driver's correctness gate runs the default session config (AQE on,
shuffle.partitions = cpus).  A query whose floats are only
*accidentally* stable — order-dependent double sums that happen to land
off a floor boundary under one merge order — can green the gate and
still red a future round when partition counts shift.  The standing
countermeasure (rounds 8, 11, 12) is to re-run the oracle compare under
a deliberately hostile config:

    spark.sql.adaptive.enabled = false
    spark.sql.shuffle.partitions = 7

7 partitions forces *different partial-aggregate merge orders* than both
the default 32 and DuckDB's single-threaded fold; AQE off removes the
runtime coalescing that can mask them.  Bit-level agreement here is
strictly stronger evidence than the default-config gate.

Usage:
    python tools/adversarial_check.py                     # whole registry
    python tools/adversarial_check.py --names a1_biovolume_rollup dd20_...
    python tools/adversarial_check.py --sf /root/testdata/sf0.1 --names ...
    python tools/adversarial_check.py --hostile broadcast-off,codegen-off,tz-offset

--hostile (round 15) stacks further axes on the standing pair:
broadcast-off disables AUTO broadcast so every unforced join becomes a
shuffle join (results must be join-strategy invariant; the package's
explicit broadcast() hints are unaffected); codegen-off runs the
interpreted expression path (catches wholestage-codegen-dependent
float fusion); tz-offset starts the session in America/New_York
(proves _util.tables' UTC forcing governs every timestamp path rather
than relying on the harness default).

Exit 0 = all compared queries bit-green; 1 = at least one mismatch
(each printed).  Rows-only entries (oracle is None) are skipped and
reported as such.
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))
sys.path.insert(0, str(REPO / "tools"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--names", nargs="*", default=None, help="explicit query keys (default: all)"
    )
    ap.add_argument("--partitions", default="7")
    ap.add_argument(
        "--hostile",
        default="",
        help="comma list of extra hostile axes on top of AQE-off/partitions: "
        "broadcast-off (autoBroadcastJoinThreshold=-1 — auto-broadcasts "
        "become shuffle joins; the package's explicit broadcast() hints "
        "remain, so results must be join-strategy invariant), "
        "codegen-off (spark.sql.codegen.wholeStage=false — interpreted "
        "expression path; catches codegen-dependent float fusion), "
        "tz-offset (session starts in America/New_York — proves the "
        "_util.tables UTC forcing actually governs every timestamp path)",
    )
    args = ap.parse_args()
    hostile = {h for h in args.hostile.split(",") if h}
    unknown_axes = hostile - {"broadcast-off", "codegen-off", "tz-offset"}
    if unknown_axes:
        print(f"unknown --hostile axes: {sorted(unknown_axes)}")
        return 1

    from pyspark.sql import SparkSession

    from driver_sim import frames_match
    from ifcb_data_pipeline_spark.queries import load_all
    from oracle_harness import duckdb_connection

    reg = load_all()
    if args.names:
        unknown = [n for n in args.names if n not in reg]
        if unknown:
            print(f"unknown query keys: {unknown}")
            return 1
        names = list(args.names)
    else:
        names = list(reg)

    # local[8,4] (not local[8]): plain local mode hard-pins
    # spark.task.maxFailures=1, so ONE transient task failure (a python
    # worker dying under memory pressure) aborts the whole job — no real
    # cluster runs without task retry.  Driver memory gets the same 8g
    # the session factory gives every other tool; this harness ran the
    # full 216-query registry at sf0.1 in the 1g DEFAULT heap, which is
    # the best explanation of the round-14/round-15 one-off Py4J task
    # aborts seen ONLY on this leg (sf0.1, partitions=7: the fattest
    # partitions of the battery).  Results are unaffected — retries
    # re-run deterministic plans; a deterministic failure still fails.
    builder = (
        SparkSession.builder.master("local[8,4]")
        .appName("adversarial-check")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", args.partitions)
        .config(
            "spark.sql.session.timeZone",
            "America/New_York" if "tz-offset" in hostile else "UTC",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if "broadcast-off" in hostile:
        builder = builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    if "codegen-off" in hostile:
        builder = builder.config("spark.sql.codegen.wholeStage", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(args.sf)

    bad: list[tuple[str, str]] = []
    n_cmp = 0
    for name in names:
        q = reg[name]
        if q.oracle is None:
            print(f"{name}: SKIP (rows-only)")
            continue
        n_cmp += 1
        try:
            ok, msg = frames_match(q.fn(spark, args.sf).toPandas(), con.sql(q.oracle).df())
        except Exception as e:  # noqa: BLE001 - report and continue
            # str(e), not repr(e): Py4JJavaError's repr is an opaque
            # "JavaObject id=..." while str() carries the Java exception
            # class + stack — the round-15 i13 flake was unactionable
            # until this.  One line so the FAIL-surfacing grep keeps it.
            detail = " | ".join(str(e).splitlines())[:1500]
            ok, msg = False, detail or repr(e)[:300]
        if ok:
            print(f"{name}: ok")
        else:
            bad.append((name, msg))
            print(f"{name}: FAIL {msg}")
    hostile_note = f", hostile={'+'.join(sorted(hostile))}" if hostile else ""
    print(
        f"--- adversarial-check (AQE off, partitions={args.partitions}"
        f"{hostile_note}, {args.sf}): {n_cmp - len(bad)}/{n_cmp} green ---"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
