"""CPU of set-up and of one cold pass, split by thread class.

    python tools/jvm_cpu.py [--ingest] [--data DIR] [--cores N] [--json]

Set-up is ``get_spark`` + ``load_all``, as perfbench's ``setup_s`` counts
it.  The pass is perfbench's cold pass of one of its two workloads: by
default ``bench.HEADLINE`` once in its fixed order, each query through
``fn(spark, data)`` and ``toArrow``; with ``--ingest``, the
``ingest_delivery`` pass shape through ``ingest_tick`` (three seeded
170-ROI deliveries, then one re-delivery of all of them) into a temporary
directory.  Around each phase the tool reads ``/proc/<jvm>/task/*/stat``
(user + system ticks per thread, named by its comm) and the processes
around the JVM, and prints the CPU seconds of each class:

    c1          C1 CompilerThread
    c2          C2 CompilerThread
    py4j        ``main`` and ``Thread-N``: the py4j gateway serving the
                Python driver's calls
    tasks       executor task launch workers
    gc          GC and G1 threads
    jvm_other   every other live JVM thread
    exited      JVM threads that exited during the phase: the process
                total minus the sum over the threads still alive.  With
                HotSpot's default compiler count most of it was C2
                compiler threads started under load and retired when
                idle; the one C1 and one C2 thread ``get_spark`` asks for
                are never retired, which leaves Spark's short-lived
                threads here
    reaped      processes the JVM reaped: at set-up the ``spark-submit``
                launcher JVM, later exited Python workers
    py_workers  live processes under the JVM (Spark's Python daemon and
                workers)
    py_driver   this process

The classes sum to the phase's total.  Two more rows read construction
as work rather than seconds:

    py4j calls      Python-to-JVM method calls during the phase, counted by
                    a wrapper on py4j's ``JavaMember.__call__``
    driver peak MB  this process's peak RSS (``ru_maxrss``) at the end of
                    the phase, as perfbench's ``driver_peak_rss_mb``

The last line says whether the JVM mapped the class archive, is dumping
one, had one rejected or started without one.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import resource
import sys
import tempfile
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CLASSES = ("c1", "c2", "py4j", "tasks", "gc", "jvm_other", "exited", "reaped",
           "py_workers", "py_driver")
TICK = os.sysconf("SC_CLK_TCK")


def thread_class(comm: str) -> str:
    if re.match(r"C[12] CompilerThre", comm):
        return comm[:2].lower()
    if comm == "main" or re.fullmatch(r"Thread-\d+", comm):
        return "py4j"
    if comm.startswith("Executor task"):
        return "tasks"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "jvm_other"


def read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after the comm) of one ``stat`` file."""
    try:
        with open(path) as f:
            data = f.read()
    except OSError:
        return None  # exited while we scanned
    head, tail = data.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def ticks(fields: list[str], first: int, last: int) -> int:
    return sum(int(x) for x in fields[first:last])


def snapshot(jvm: int | None) -> dict:
    """Per-thread ticks of the JVM, its process and reaped totals, the
    ticks of every live process under it, and this process's own."""
    snap = {"threads": {}, "process": 0, "reaped": 0, "py_workers": 0,
            "py_driver": ticks(read_stat("/proc/self/stat")[1], 11, 13)}
    if jvm is None:
        return snap
    for tid in os.listdir(f"/proc/{jvm}/task"):
        st = read_stat(f"/proc/{jvm}/task/{tid}/stat")
        if st:
            snap["threads"][int(tid)] = (st[0], ticks(st[1], 11, 13))
    fields = read_stat(f"/proc/{jvm}/stat")[1]
    snap["process"], snap["reaped"] = ticks(fields, 11, 13), ticks(fields, 13, 15)
    parent, total = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := read_stat(f"/proc/{entry}/stat")):
            parent[int(entry)], total[int(entry)] = int(st[1][1]), ticks(st[1], 11, 15)
    todo = [c for c, p in parent.items() if p == jvm]
    while todo:
        pid = todo.pop()
        snap["py_workers"] += total.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return snap


def split(before: dict, after: dict) -> dict:
    """CPU seconds per class between two snapshots of the same JVM."""
    out = dict.fromkeys(CLASSES, 0.0)
    live = 0
    for tid, (comm, t) in after["threads"].items():
        was = before["threads"].get(tid)
        delta = t - (was[1] if was and was[0] == comm else 0)
        out[thread_class(comm)] += delta
        live += delta
    out["exited"] = (after["process"] - before["process"]) - live
    for key in ("reaped", "py_workers", "py_driver"):
        out[key] = after[key] - before[key]
    out = {k: v / TICK for k, v in out.items()}
    out["total"] = sum(out.values())
    return out


def count_py4j_calls() -> list[int]:
    """Count every py4j method call from now on; the count is the one
    element of the returned list."""
    from py4j.java_gateway import JavaMember

    count = [0]
    call = JavaMember.__call__

    def counted(self, *args):
        count[0] += 1
        return call(self, *args)

    JavaMember.__call__ = counted
    return count


def driver_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def archive_state(jvm: int) -> str:
    """How the JVM started: from a mapped class archive, dumping one, with
    one HotSpot rejected, or without one."""
    with open(f"/proc/{jvm}/cmdline") as f:
        argv = f.read().split("\0")
    for arg in argv:
        if arg.startswith("-XX:SharedArchiveFile="):
            with open(f"/proc/{jvm}/maps") as f:
                return "mapped" if arg.split("=", 1)[1] in f.read() else "rejected"
        if arg.startswith("-XX:ArchiveClassesAtExit="):
            return "dumping"
    return "none"


def ingest_pass(spark) -> None:
    """perfbench's ingest pass, its deliveries drawn by its own generator
    from seed 1."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from run import INGEST, Run

    from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick

    stream = Run.deliveries(SimpleNamespace(shape=INGEST, rng=random.Random(1)))
    fresh = [next(stream) for _ in range(INGEST["fresh"])]
    with tempfile.TemporaryDirectory() as work:
        for rows in [*fresh, [r for rows in fresh for r in rows]]:
            bins = spark.createDataFrame(rows, "sample string, n_rois int")
            ingest_tick(spark, bins, os.path.join(work, "ckpt"), os.path.join(work, "out"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--ingest", action="store_true",
                    help="run the ingest_delivery pass instead of the headline queries")
    ap.add_argument("--data", default=os.path.join(ROOT, "perfbench", "data", "sf0.001"))
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4)
    ap.add_argument("--json", action="store_true", help="print one JSON line instead of a table")
    args = ap.parse_args(argv)

    from bench import HEADLINE
    from ifcb_data_pipeline_spark.queries import load_all
    from ifcb_data_pipeline_spark.session import get_spark, stop_spark

    calls = count_py4j_calls()
    start = snapshot(None)
    spark = get_spark("jvm-cpu", cpus=args.cores)
    registry = load_all()
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    set_up = snapshot(jvm)
    set_up_calls, set_up_mb = calls[0], driver_peak_mb()
    if args.ingest:
        ingest_pass(spark)
    else:
        for name in HEADLINE:
            registry[name].fn(spark, args.data).toArrow()
    cold = snapshot(jvm)
    result = {"setup": split(start, set_up), "cold_pass": split(set_up, cold),
              "py4j_calls": {"setup": set_up_calls, "cold_pass": calls[0] - set_up_calls},
              "driver_peak_mb": {"setup": set_up_mb, "cold_pass": driver_peak_mb()},
              "archive": archive_state(jvm)}
    stop_spark(spark)

    if args.json:
        print(json.dumps(result))
        return 0
    print(f"{'class':<12}{'setup s':>10}{'cold pass s':>13}")
    for key in (*CLASSES, "total"):
        print(f"{key:<12}{result['setup'][key]:>10.2f}{result['cold_pass'][key]:>13.2f}")
    print(f"{'py4j calls':<16}{result['py4j_calls']['setup']:>6}"
          f"{result['py4j_calls']['cold_pass']:>13}")
    print(f"{'driver peak MB':<16}{result['driver_peak_mb']['setup']:>6.1f}"
          f"{result['driver_peak_mb']['cold_pass']:>13.1f}")
    print(f"archive: {result['archive']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
