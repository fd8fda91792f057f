"""The repository's benchmark: one closed-loop client driving the engine's
public API on ``local[nproc]``, from set-up to checked outputs.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 40 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* ``headline`` – the 31 headline queries of ``bench.py`` in two families:
  ``etl_export`` (the export/alert dataflow, execution-bound) and
  ``corpus_build`` (the training-corpus dataflow, where eager construction
  jobs live).
* ``ingest_delivery`` – seeded bin deliveries through ``ingest_tick``
  (the write path), with periodic re-deliveries of bins already seen.

The queries read ``perfbench/data/sf0.001``, a byte-identical copy of the
repository's sf0.001 test tables (``--data`` points at another scale).
The seed draws the ingest deliveries and shuffles the query order of every
warm pass.  Every query runs through ``fn(spark, sf_dir)`` and an action.
The first (cold) pass in the fresh session is the one the end-to-end
metrics measure; it fetches each result as Arrow and checks it against
the query's DuckDB oracle after the clock stops.  Warm passes, made while
another one fits in ``--seconds``, write to the ``noop`` sink and feed
the report line only.  The end-to-end times are CPU times (set-up and
cold pass), because on a shared virtual machine the host's steal time
moves wall times more than the bounds allow; the wall times go on the
report line.  With ``--trace 1`` the run records spans (set-up,
pass, query with construct/plan/execute children, tick, verify), reads
``statusTracker`` counts after each span and parses the Spark event log,
and reports per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import re
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")

ETL_EXPORT = [
    "p1_shark_export",
    "p2_hab_alert",
    "p3_dashboard_metadata",
    "a1_biovolume_rollup",
    "a4_monthly_stats",
    "j1_enrichment_chain",
    "j4_asof_join",
    "j5_interval_join",
    "j14_bucketed_range_join",
    "j17_point_in_time_join",
    "w1_adjacency_removal",
    "o8_zorder_layout",
]
CORPUS_BUILD = [
    "dd2_minhash_lsh",
    "dd11_span_dedup",
    "dd13_star_components",
    "mm9_perceptual_dedup",
    "sim1_cosine_topk",
    "sim8_kmeans_refine",
    "sim9_quantized_rerank",
    "sim10_pq_adc",
    "tx2_quality_score",
    "tx13_bm25_topk",
    "tp1_training_corpus",
    "tp2_multimodal_corpus",
    "tp3_incremental_refresh",
    "tp4_curriculum_order",
    "tp5_funnel_report",
    "pk1_sequence_packing",
    "pk2_document_chunking",
    "dp8_exact_quantiles",
    "sp8_importance_resampling",
]
FAMILIES = {"etl_export": ETL_EXPORT, "corpus_build": CORPUS_BUILD}
HEADLINE = ETL_EXPORT + CORPUS_BUILD
WORKLOADS = ["headline", "ingest_delivery"]

# Ingest pass shape: ``fresh`` deliveries of ``bins`` bins carrying ``rois``
# ROIs in total each, then one re-delivery of all of them.  Every fresh
# delivery carries the same ROI total, so tick times compare across ticks
# and seeds.
INGEST = {"fresh": 3, "bins": 6, "rois": 170}
MIN_ROIS_PER_BIN = 5

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.load_all_s": "s",
    "construct.wall_s": "s",
    "construct.jobs": "count",
    "construct.stages": "count",
    "construct.tasks": "count",
    "plan.wall_s": "s",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "execute.wall_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.tasks_per_stage": "ratio",
    "execute.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deserialize_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "scan.bytes_read": "bytes",
    "core_utilization": "ratio",
    "kernel.stage_s": "s",
    "kernel.tasks": "count",
    "ledger.files_per_tick": "count",
    "ledger.bytes_per_tick": "bytes",
    "output.bytes_per_roi": "bytes",
    "trace.cold_pass_s": "s",
    "trace.cold_pass_cpu_s": "s",
}
COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
PYTHON_NODE = re.compile(
    r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython|PythonUDTF)"
)
# Stages that ran Python workers (on ingest, the feature-kernel stage)
# carry this SQL metric in their accumulables.
PYTHON_STAGE_METRIC = "data sent to Python workers"
EXCHANGE_NODE = re.compile(r"\b(Exchange|ShuffleExchange|BroadcastExchange)\b")


# --------------------------------------------------------------- utilities


def machine_probe(threads: int) -> dict:
    """Run-condition context, not a metric: a fixed single-thread spin and
    a fixed sha256 burst on ``threads`` threads (capped at the core count)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(500_000):
        x += i * 3 // 2
    spin = time.perf_counter() - t0
    blob = b"x" * 1_000_000

    def work(_):
        for _ in range(25):
            hashlib.sha256(blob).digest()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(work, range(threads)))
    return {"spin_s": round(spin, 4), f"sha{threads}_s": round(time.perf_counter() - t0, 4)}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, used) clock ticks of all CPUs since boot, from ``/proc/stat``.
    Stolen ticks are those the hypervisor gave to other guests while this
    one had work to run."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    steal = t[7] if len(t) > 7 else 0
    return steal, t[0] + t[1] + t[2] + t[5] + t[6] + steal


def cpu_seconds(root_pid: int | None = None) -> float:
    """User + system CPU seconds, reaped children included, of this process,
    of ``root_pid`` (the JVM) and of every process below it (Spark's Python
    daemon and workers)."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we scanned
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = ticks.get(os.getpid(), 0), [root_pid] if root_pid else []
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans with Spark job-group attribution.

    Each query (or tick) span gets an id that is also its Spark job group;
    its phases are child spans.  Jobs are attributed to a phase by reading
    ``statusTracker`` right after the phase ends, so the 1000-job retention
    limit never drops one."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._seen: dict[str, set] = {}
        self._n = 0

    def new_id(self, name: str) -> str:
        self._n += 1
        return f"{self._n:05d}-{name}"

    def begin(self, span_id: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(span_id, span_id, interruptOnCancel=False)
            self._seen.setdefault(span_id, set())

    def span(self, name, span_id, parent, start, end, **extra) -> dict:
        rec = {"name": name, "id": span_id, "parent": parent, "start": start, "end": end}
        if self.enabled and span_id in self._seen:
            rec.update(self._counts(span_id))
        rec.update(extra)
        self.spans.append(rec)
        return rec

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        new = sorted(set(st.getJobIdsForGroup(group)) - self._seen[group])
        self._seen[group].update(new)
        stages = tasks = failed = 0
        for jid in new:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"job_ids": new, "jobs": len(new), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def end(self) -> None:
        if self.enabled:
            self.sc.setJobGroup("", "", interruptOnCancel=False)


class Checked:
    """An Arrow-collected result shaped like the DataFrame surface that
    ``oracle_harness.compare`` reads (columns, schema, collect)."""

    def __init__(self, table, schema):
        self.columns, self.schema, self._table = table.column_names, schema, table

    def collect(self):
        return self._table.to_pylist()


def plan_stats(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"exchanges": len(EXCHANGE_NODE.findall(plan)),
            "python_nodes": len(PYTHON_NODE.findall(plan))}


# ---------------------------------------------------------------- workloads


class Run:
    """One benchmark run: a Spark session, its passes and their bookkeeping."""

    def __init__(self, args, work: str, ingest: dict = INGEST):
        self.args, self.work, self.shape = args, work, ingest
        self.data_dir = args.data
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}  # query -> seconds, one per pass
        self.warm_passes: list[float] = []
        self.report: dict = {}
        self.errors: list[str] = []

    # set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from ifcb_data_pipeline_spark.queries import load_all
        from ifcb_data_pipeline_spark.session import get_spark

        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.args.cores)
        t1 = time.perf_counter()
        self.registry = load_all()
        t2 = time.perf_counter()
        self.session_start_s, self.load_all_s = t1 - t0, t2 - t1
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.setup_cpu_s = cpu_seconds(self.jvm_pid) - cpu0
        self.report["setup_wall_s"] = t2 - t0
        self.tracer = Tracer(self.sc, self.trace)
        self.tracer.span("setup", self.tracer.new_id("setup"), None, t0, t2)

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit.  The next ``setup`` in
        this process launches a fresh JVM."""
        from pyspark import SparkContext

        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}"[:300])

    # passes ----------------------------------------------------------------
    def passes(self, run_pass) -> None:
        """The cold pass (the gated one), then warm passes while another
        one fits in ``--seconds``."""
        deadline = time.perf_counter() + self.args.seconds
        cpu0, host0 = cpu_seconds(self.jvm_pid), host_cpu_ticks()
        self.cold_pass_s = last = run_pass(0)
        self.cold_pass_cpu_s = cpu_seconds(self.jvm_pid) - cpu0
        stolen, used = (b - a for a, b in zip(host0, host_cpu_ticks()))
        self.steal_frac = stolen / used if used else 0.0
        self.report["cold_pass_s"] = self.cold_pass_s
        index = 1
        while time.perf_counter() + last <= deadline:
            last = run_pass(index)
            self.warm_passes.append(last)
            index += 1
        self.measure_memory()
        self.report.update(passes=index,
                           pass_s=median(self.warm_passes) if self.warm_passes else None)

    # query workload --------------------------------------------------------
    def run_query(self, name: str, pass_id: str, cold: bool) -> float:
        """One closed-loop request: construct, (traced: plan), execute.
        The cold pass fetches the result for the output check."""
        t = self.tracer
        qid = t.new_id(f"query:{name}")
        self.attempted += 1
        t.begin(qid)
        q0 = time.perf_counter()
        try:
            df = self.registry[name].fn(self.spark, self.data_dir)
            c1 = time.perf_counter()
            t.span("construct", qid, qid, q0, c1)
            p1 = c1
            if self.trace:
                stats = plan_stats(df)
                p1 = time.perf_counter()
                t.span("plan", qid, qid, c1, p1, **stats)
            if cold:
                self.cold_results[name] = (df.toArrow(), df.schema)
            else:
                df.write.format("noop").mode("overwrite").save()
            e1 = time.perf_counter()
            t.span("execute", qid, qid, p1, e1)
        except Exception as exc:  # a failing query is counted, the run goes on
            e1 = time.perf_counter()
            self.fail(f"{pass_id}/{name}", exc)
        finally:
            t.end()
        t.span(f"query:{name}", qid, pass_id, q0, e1, query=name)
        self.samples.setdefault(name, []).append(e1 - q0)
        return e1 - q0

    def query_pass(self, names: list[str], index: int) -> float:
        # The cold pass keeps one fixed order, so the JVM warm-up lands on
        # the same queries in every run; warm passes shuffle theirs.
        order = list(names)
        if index:
            self.rng.shuffle(order)
        pid = self.tracer.new_id(f"pass:{index}")
        t0 = time.perf_counter()
        for name in order:
            self.run_query(name, pid, cold=index == 0)
        t1 = time.perf_counter()
        self.tracer.span("pass", pid, None, t0, t1, index=index)
        return t1 - t0

    def query_workload(self, names: list[str]) -> None:
        self.cold_results: dict = {}
        self.passes(lambda index: self.query_pass(names, index))
        self.verify_queries(names)
        ratios = [s / median(v[1:]) for v in self.samples.values() for s in v[1:]
                  if median(v[1:]) > 0]
        self.report.update(
            query_slowdown_p90=statistics.quantiles(ratios, n=10)[-1] if len(ratios) > 1 else None,
            query_slowdown_samples=len(ratios),
        )
        for family, members in FAMILIES.items():
            cold = [self.samples[n][0] for n in members if n in self.samples]
            self.report[f"{family}.cold_pass_s"] = sum(cold)

    def verify_queries(self, names) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import compare, duckdb_connection

        vid = self.tracer.new_id("verify")
        t0 = time.perf_counter()
        con = duckdb_connection(self.data_dir)
        try:
            for name in names:
                if name not in self.cold_results:
                    continue  # already counted as failed when it raised
                table, schema = self.cold_results[name]
                oracle = self.registry[name].oracle
                try:
                    if oracle is None:
                        ok, msg = table.num_rows > 0, f"rows-only ({table.num_rows} rows)"
                    else:
                        ok, msg = compare(Checked(table, schema), con, oracle)
                except Exception as exc:
                    ok, msg = False, repr(exc)
                if not ok:
                    self.fail(f"verify/{name}", msg)
        finally:
            con.close()
        self.tracer.span("verify", vid, None, t0, time.perf_counter())

    # ingest workload -------------------------------------------------------
    def deliveries(self):
        """Endless seeded stream of fresh deliveries: (sample, n_rois) rows
        with numeric sample ids (the PSD step casts sample to BIGINT)."""
        bins, rois = self.shape["bins"], self.shape["rois"]
        ids = self.rng.sample(range(10**8, 10**9), 10_000)
        pos = 0
        while True:
            extra = [0] * bins
            for _ in range(rois - MIN_ROIS_PER_BIN * bins):
                extra[self.rng.randrange(bins)] += 1
            yield [(str(ids[pos + i]), MIN_ROIS_PER_BIN + e) for i, e in enumerate(extra)]
            pos += bins

    def tick(self, rows: list, redelivery: bool, pass_id: str) -> float:
        from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick
        from ifcb_data_pipeline_spark.streaming.incremental import CheckpointedJob

        t = self.tracer
        n = len(self.ticks)
        tid = t.new_id(f"tick:{n}")
        self.attempted += 1
        got = None
        t.begin(tid)
        s0 = time.perf_counter()
        try:
            bins = self.spark.createDataFrame(rows, "sample string, n_rois int")
            c1 = time.perf_counter()
            t.span("construct", tid, tid, s0, c1)
            p1 = c1
            if self.trace:
                stats = plan_stats(CheckpointedJob(self.spark, self.ckpt, "sample").pending(bins))
                p1 = time.perf_counter()
                t.span("plan", tid, tid, c1, p1, **stats)
            got = ingest_tick(self.spark, bins, self.ckpt, self.out_dir)
            e1 = time.perf_counter()
            t.span("execute", tid, tid, p1, e1)
        except Exception as exc:
            e1 = time.perf_counter()
            self.fail(f"tick:{n}", exc)
        finally:
            t.end()
        t.span(f"tick:{n}", tid, pass_id, s0, e1, redelivery=redelivery)
        self.ticks.append((n, redelivery, rows, got, e1 - s0))
        return e1 - s0

    def ingest_pass(self, index: int) -> float:
        pid = self.tracer.new_id(f"pass:{index}")
        t0 = time.perf_counter()
        fresh = [next(self.stream) for _ in range(self.shape["fresh"])]
        for rows in fresh:
            self.tick(rows, False, pid)
        self.tick([r for rows in fresh for r in rows], True, pid)
        t1 = time.perf_counter()
        self.tracer.span("pass", pid, None, t0, t1, index=index)
        return t1 - t0

    def ingest_workload(self) -> None:
        self.out_dir = os.path.join(self.work, "out")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.stream = self.deliveries()
        self.ticks: list[tuple] = []
        self.passes(self.ingest_pass)

        vid = self.tracer.new_id("verify")
        v0 = time.perf_counter()
        expected_rois = expected_bins = 0
        for n, redelivery, rows, got, _ in self.ticks:
            if not redelivery:
                expected_bins += len(rows)
                expected_rois += sum(r[1] for r in rows)
            if got is None:
                continue  # already counted as failed when it raised
            want = ({"bins": 0, "rois": 0, "psd_flagged": 0} if redelivery else
                    {"bins": len(rows), "rois": sum(r[1] for r in rows)})
            if any(got.get(k) != v for k, v in want.items()):
                self.fail(f"verify/tick:{n}", f"got {got}, want {want}")
        try:
            feats = self.spark.read.parquet(os.path.join(self.out_dir, "features"))
            got_rois = feats.count()
            got_bins = feats.select("sample").distinct().count()
        except Exception as exc:
            got_rois = got_bins = repr(exc)
        if (got_rois, got_bins) != (expected_rois, expected_bins):
            self.fail("verify/features",
                      f"rows={got_rois} samples={got_bins}, want {expected_rois}/{expected_bins}")
        self.tracer.span("verify", vid, None, v0, time.perf_counter())

        # The first tick of the session is the cold one; later fresh ticks
        # are the steady state.
        warm = [w for n, redelivery, _, _, w in self.ticks if n and not redelivery]
        self.report.update(
            ticks=len(self.ticks),
            cold_tick_s=self.ticks[0][4],
            tick_s=median(warm),
            rois_per_s=self.shape["rois"] * len(warm) / sum(warm) if warm else None,
            redelivery_s=median([w for _, redelivery, _, _, w in self.ticks if redelivery]),
        )
        fresh_ticks = sum(1 for t in self.ticks if not t[1])
        ledger = _files(os.path.join(self.ckpt, "ledger"))
        self.ingest_files = {
            "ledger.files_per_tick": ledger["files"] / fresh_ticks,
            "ledger.bytes_per_tick": ledger["bytes"] / fresh_ticks,
            "output.bytes_per_roi": _files(self.out_dir)["bytes"] / max(1, expected_rois),
        }

    # measurement -----------------------------------------------------------
    def measure_memory(self) -> None:
        self.driver_peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        # Reported, not gated: the JVM's high-water mark follows G1's heap
        # sizing and swung 1.1-1.8 GB between identical ingest runs.
        self.report["jvm_peak_rss_mb"] = vm_hwm_mb(self.jvm_pid)

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_cpu_s,
            "cold_pass_cpu_s": self.cold_pass_cpu_s,
            "driver_peak_rss_mb": self.driver_peak_rss_mb,
        }


def _files(path: str) -> dict:
    files = [p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))]
    return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files)}


# ------------------------------------------------------------- trace report


def read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """(job -> stage ids, stage -> info, stage -> summed task metrics).
    Completed stages only: a skipped stage has no completion event."""
    jobs, stages, tasks = {}, {}, {}
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "tasks": si["Number of Tasks"],
                        "s": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3,
                        "python": any(a.get("Name") == PYTHON_STAGE_METRIC
                                      for a in si.get("Accumulables", ())),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc = tasks.setdefault(ev["Stage ID"], dict.fromkeys(
                        ("run", "cpu", "gc", "deser", "sw", "sr", "spill", "scan"), 0))
                    acc["run"] += m.get("Executor Run Time", 0) / 1e3
                    acc["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc"] += m.get("JVM GC Time", 0) / 1e3
                    acc["deser"] += m.get("Executor Deserialize Time", 0) / 1e3
                    acc["sw"] += sw.get("Shuffle Bytes Written", 0)
                    acc["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["spill"] += m.get("Disk Bytes Spilled", 0)
                    acc["scan"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs, stages, tasks


def layer_metrics(run: Run, log_dir: str) -> dict:
    """Per-layer metrics of the cold pass, the unit the end-to-end metrics
    gate: its queries on ``headline``, its ticks on ``ingest_delivery``."""
    jobs, stages, tasks = read_event_log(log_dir)
    spans = run.tracer.spans
    cold = next(s for s in spans if s["name"] == "pass" and s["index"] == 0)
    items = {s["id"] for s in spans if s["parent"] == cold["id"]}
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = run.session_start_s
    out["queries.load_all_s"] = run.load_all_s
    job_ids: list[int] = []
    for s in spans:
        if s["id"] not in items or s["name"] not in ("construct", "plan", "execute"):
            continue
        phase = s["name"]
        out[f"{phase}.wall_s"] += s["end"] - s["start"]
        if phase == "plan":
            out["plan.exchanges"] += s["exchanges"]
            out["plan.python_nodes"] += s["python_nodes"]
            continue
        for c in COUNTS:
            if f"{phase}.{c}" in out:
                out[f"{phase}.{c}"] += s[c]
        job_ids += s["job_ids"]
    if out["execute.stages"]:
        out["execute.tasks_per_stage"] = out["execute.tasks"] / out["execute.stages"]
    for sid in sorted({sid for j in job_ids for sid in jobs.get(j, ()) if sid in stages}):
        if stages[sid]["python"]:
            out["kernel.stage_s"] += stages[sid]["s"]
            out["kernel.tasks"] += stages[sid]["tasks"]
        acc = tasks.get(sid, {})
        for key, name in (("run", "exec.run_s"), ("cpu", "exec.cpu_s"), ("gc", "exec.gc_s"),
                          ("deser", "exec.deserialize_s"), ("sw", "shuffle.write_bytes"),
                          ("sr", "shuffle.read_bytes"), ("spill", "spill.disk_bytes"),
                          ("scan", "scan.bytes_read")):
            out[name] += acc.get(key, 0)
    out["core_utilization"] = out["exec.run_s"] / (run.cold_pass_s * run.args.cores)
    out.update(getattr(run, "ingest_files", {}))
    out["trace.cold_pass_s"] = run.cold_pass_s
    out["trace.cold_pass_cpu_s"] = run.cold_pass_cpu_s
    return out


# --------------------------------------------------------------------- main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="spark-ifcb benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA,
                    help="directory of the ten input tables (default: the shipped sf0.001 copy)")
    a = ap.parse_args(argv)
    a.data = os.path.abspath(a.data)
    a.cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return a


def prepare_environment(work: str, trace: bool) -> str:
    """Keep Spark, its Python workers and temp files inside ``work`` and
    make the package importable from any cwd (workers included)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [ROOT, *paths] if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    conf = [f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    tempfile.tempdir = tmp
    return log_dir


def run_once(args, queries: list[str] = HEADLINE, ingest: dict = INGEST) -> list[dict]:
    """One benchmark run in this process; returns the three output lines
    (run conditions, report, result).  ``queries`` and ``ingest`` size the
    workload; the self-test shrinks them."""
    started = time.perf_counter()
    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    log_dir = prepare_environment(work, bool(args.trace))
    try:
        probe_before = machine_probe(args.cores)
        run = Run(args, work, ingest)
        run.setup()
        try:
            if args.workload == "headline":
                run.query_workload(queries)
            else:
                run.ingest_workload()
        finally:
            run.stop()
        probe_after = machine_probe(args.cores)
        if args.trace:
            values = layer_metrics(run, log_dir)
            units = PER_LAYER
            trace_path = os.path.join(out_root, f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump(run.tracer.spans, f)
        else:
            values = run.end_to_end()
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report = dict(run.report, failed_frac=run.failed / max(1, run.attempted),
                  run_wall_s=time.perf_counter() - started)
    return [
        {"run_conditions": {"before": probe_before, "after": probe_after, "cores": args.cores,
                            "cold_pass_steal_frac": run.steal_frac}},
        {"report": {"workload": args.workload, "seed": args.seed,
                    "data": os.path.basename(args.data), **report},
         "errors": run.errors[:10]},
        {"correct": run.failed == 0,
         "attempted": run.attempted,
         "failed": run.failed,
         "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}},
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    # Let finally-blocks stop Spark and remove the scratch dir on SIGTERM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "ifcb_data_pipeline_spark")):
        print(f"perfbench: package ifcb_data_pipeline_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    for line in run_once(args):
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
