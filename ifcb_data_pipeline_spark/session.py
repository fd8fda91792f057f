"""SparkSession factory tuned for the engine.

Local test runs use ``local[N]``; the same config block is what we would
ship on a real cluster (AQE on, Arrow on, UTC timestamps).  At 100 TB the
only knobs that change are shuffle partitions (sized to ~128 MB-per-task)
and executor memory — both cluster-side, not code-side.

The driver JVM starts from a dynamic AppCDS archive that the engine
generates itself and keeps next to the code in ``__jvmcache__/``, the way
Python keeps ``__pycache__``.  The first start with no archive passes
``-XX:ArchiveClassesAtExit`` and the JVM writes the archive when it exits;
every later start maps it with ``-XX:SharedArchiveFile``, so Spark's
classes arrive already parsed and verified (SCALE.md, "Driver JVM class
archive").  Deleting the directory is always safe.  Every driver JVM the
package launches gets one C1 and one C2 compiler thread, because in
``local[N]`` the task threads run in that same JVM (SCALE.md, "Driver JVM
JIT threads").  The session turns off PySpark's per-call capture of the
Python call site, which costs py4j round-trips and driver memory on every
Column call and only adds a file:line to error messages (SCALE.md, "Driver
call-site capture").
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import struct

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

JVM_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "__jvmcache__")

# HotSpot's header magic of a dynamic archive.  A dump writes the header
# last, so a dump killed midway leaves a file without it.
_DYNAMIC_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)

# HotSpot logs under the ``cds`` tags to stdout by default: a failed dump
# as an error, a rejected archive as a ``cds+dynamic`` warning, and every
# class a dump skips as a ``cds`` warning.  The first two go to stderr.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error,cds+dynamic=warning:stderr"

# HotSpot's tiered minimum: one C1 and one C2 compiler thread.  It sizes
# the JIT for idle cores, but a ``local[N]`` driver runs the N task threads
# too; with one C2 thread the tiered policy raises its C2 thresholds as the
# queue grows, so lukewarm methods stay in C1 code and hot ones still reach
# C2.
_JIT_THREADS = "-XX:CICompilerCount=2"


def _archive_key(java_home: str, spark_home: str) -> str:
    """Digest of the JDK, of Spark's jars and of the cache directory: a new
    JDK, new jars or a moved checkout (the archive records the path of the
    empty conf directory) get an archive of their own instead of one
    HotSpot rejects at every start."""
    h = hashlib.sha256(f"{JVM_CACHE}\0".encode())
    for path in [os.path.join(java_home, "lib", "modules"),
                 *sorted(glob.glob(os.path.join(spark_home, "jars", "*")))]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:16]


def _driver_launch() -> tuple[str, str] | None:
    """The driver java options and ``SPARK_CONF_DIR`` of the gateway
    launch, or None when this session launches no JVM or the conf
    directory holds a real configuration file, whose own settings the
    options must not override."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.isdir(conf_dir) and any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return None
    except OSError:
        return None
    archive = _archive_launch(spark_home)
    if archive is None:
        return _JIT_THREADS, conf_dir
    return f"{_JIT_THREADS} {archive} {_CDS_LOG}", os.path.join(JVM_CACHE, "conf")


def _archive_launch(spark_home: str) -> str | None:
    """The archive option of a launch from the class archive, or None when
    the JVM starts without one.

    The launcher puts the conf directory first on the class path, and
    HotSpot neither dumps nor maps an archive with a non-empty directory
    on it.  Spark reads nothing from ``*.template`` files, so a conf
    directory holding only those is swapped for an empty one the package
    owns, ``__jvmcache__/conf``.  Hadoop/YARN conf directories, which the
    launcher also puts on the class path, and a cache directory that
    cannot be written start without an archive."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home and (java := shutil.which("java")):
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    if not java_home or os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    try:
        os.makedirs(os.path.join(JVM_CACHE, "conf"), exist_ok=True)
        return _archive_options(_archive_key(java_home, spark_home))
    except OSError:
        return None


def _archive_options(key: str) -> str | None:
    """Map the published archive of ``key``, or dump one at exit if the
    cache directory can be written.

    HotSpot mmaps the archive and crashes on a file cut short (SIGBUS), so
    a finished dump is published under a name that carries its byte size,
    and a published file of any other size is deleted.  A dump that
    finished while an older archive was in use replaces it, as well as
    the archives of every other key: a cache serves the one JDK, jar set
    and path that it is keyed by now."""
    dump = os.path.join(JVM_CACHE, f"spark-{key}.dump")
    published = glob.glob(os.path.join(JVM_CACHE, f"spark-{key}-*.jsa"))
    try:
        with open(dump, "rb") as f:
            finished = f.read(4) == _DYNAMIC_ARCHIVE_MAGIC
    except FileNotFoundError:
        finished = False
    if finished:
        for path in glob.glob(os.path.join(JVM_CACHE, "spark-*.jsa")):
            os.remove(path)
        published = [os.path.join(JVM_CACHE, f"spark-{key}-{os.path.getsize(dump)}.jsa")]
        os.replace(dump, published[0])
    for path in published:
        if path.endswith(f"-{os.path.getsize(path)}.jsa"):
            return f'"-XX:SharedArchiveFile={path}"'
        os.remove(path)
    return f'"-XX:ArchiveClassesAtExit={dump}"' if os.access(JVM_CACHE, os.W_OK) else None


def get_spark(app_name: str = "ifcb_data_pipeline_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle partitions sized to the local core count; on a cluster this
        # is superseded by AQE coalescing (initialPartitionNum high, AQE trims).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow shuffled-hash join where the planner's per-partition size
        # conditions hold; sort-merge remains the fallback whenever they
        # don't.  FAILURE MODE AT SCALE: SHJ's build-side hash map does not
        # spill, and canBuildLocalHashMap gates on LOGICAL size estimates
        # that can be badly wrong downstream of filters/joins, so a
        # mis-estimate at 100 TB surfaces as an executor OOM instead of a
        # slower SMJ.  Deployments at real scale should verify estimate
        # quality on their plans or re-enable preferSortMergeJoin and opt
        # into SHJ per join with SHUFFLE_HASH hints.  AQE's skew split
        # further bounds per-partition build sizes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column/functions call to record its Python
        # call site for error messages: py4j round-trips, a stack walk and
        # an IPython import per call (SCALE.md, "Driver call-site capture").
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    launch = _driver_launch()
    if launch is None:
        spark = builder.getOrCreate()
    else:
        options, conf_dir = launch
        # The launcher reads SPARK_CONF_DIR when the gateway starts;
        # spark-submit's --driver-java-options overrides extraJavaOptions,
        # not defaultJavaOptions.
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            spark = builder.config("spark.driver.defaultJavaOptions", options).getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark``, close its gateway and wait for the driver JVM to
    exit, dumping the class archive included.  The next ``get_spark`` in
    this process launches a fresh JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
