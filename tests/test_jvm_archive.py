"""The driver JVM's class archive (``session.get_spark``), end to end.

Each session runs in a child Python process against a temporary archive
directory (``session.JVM_CACHE``), so the checkout's own archive is never
touched.  The child reports, as its last stdout line, what the JVM was
started with and mapped; everything else the JVM prints to stdout lands
there too, which is how the tests see that HotSpot's ``cds`` log does
not.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, sys
from ifcb_data_pipeline_spark import session
session.JVM_CACHE = sys.argv[1]
before = os.environ.get("SPARK_CONF_DIR")
spark = session.get_spark("archive-test", cpus=1)
after = os.environ.get("SPARK_CONF_DIR")
pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
with open(f"/proc/{pid}/cmdline") as f:
    argv = f.read().split("\\0")
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")})
rows = spark.range(5).count()
defaults = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
session.stop_spark(spark)
print(json.dumps({"before": before, "after": after, "rows": rows, "mapped": mapped,
                  "archive_args": [a for a in argv if a.startswith("-XX:") and "Archive" in a],
                  "jit_args": [a for a in argv if a.startswith("-XX:CICompilerCount")],
                  "test_args": [a for a in argv if a.startswith("-Dtest.")],
                  "defaults": defaults}))
"""

JIT_THREADS = ["-XX:CICompilerCount=2"]


def start(cache, conf_dir=None, submit_args=None) -> tuple[dict, str, str]:
    """Start and stop one session in a child process; return its report,
    its stdout lines other than the report, and its stderr."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    env["PYTHONPATH"] = os.pathsep.join(p for p in [ROOT, env.get("PYTHONPATH")] if p)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    if submit_args is not None:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    p = subprocess.run([sys.executable, "-c", CHILD, str(cache)], env=env, cwd=str(cache.parent),
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    *rest, last = p.stdout.splitlines()
    report = json.loads(last)
    assert report["rows"] == 5
    return report, "\n".join(rest), p.stderr


def archives(cache) -> list[str]:
    return sorted(str(p) for p in cache.glob("*.jsa"))


@pytest.fixture(scope="module")
def starts(tmp_path_factory):
    """Two sessions over one fresh cache directory: the first start finds
    no archive and dumps one when its JVM exits; the second, under a conf
    directory of templates only, maps it."""
    cache = tmp_path_factory.mktemp("jvmcache")
    templates = tmp_path_factory.mktemp("conf")
    (templates / "spark-defaults.conf.template").write_text("spark.ui.enabled false\n")
    return cache, templates, start(cache), start(cache, conf_dir=templates)


def test_first_start_dumps_the_archive(starts):
    cache, _, (report, stdout, _), _ = starts
    [arg] = report["archive_args"]
    assert arg.startswith(f"-XX:ArchiveClassesAtExit={cache}/spark-") and arg.endswith(".dump")
    assert report["jit_args"] == JIT_THREADS
    assert not [m for m in report["mapped"] if m.startswith(str(cache))]
    assert report["before"] is None and report["after"] is None
    assert "[cds" not in stdout


def test_second_start_maps_the_archive(starts):
    # The templates-only conf directory is swapped for the package's empty
    # one while the gateway launches, then restored.
    cache, templates, _, (report, stdout, _) = starts
    [archive] = archives(cache)
    assert archive.endswith(f"-{os.path.getsize(archive)}.jsa")
    assert report["archive_args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert report["jit_args"] == JIT_THREADS
    assert archive in report["mapped"]
    assert report["before"] == report["after"] == str(templates)
    assert "[cds" not in stdout


def test_archive_files_are_published_by_size(tmp_path, monkeypatch):
    # No JVM: which option the next start gets from the files it finds.
    from ifcb_data_pipeline_spark import session

    monkeypatch.setattr(session, "JVM_CACHE", str(tmp_path))
    dump = tmp_path / "spark-k.dump"
    dump.write_bytes(b"\0" * 64)  # header not written yet: dump again
    assert session._archive_options("k") == f'"-XX:ArchiveClassesAtExit={dump}"'
    (tmp_path / "spark-k-10.jsa").write_bytes(b"\0" * 10)  # an older archive
    (tmp_path / "spark-j-10.jsa").write_bytes(b"\0" * 10)  # another key's
    dump.write_bytes(struct.pack("=I", 0xF00BABA8) + b"\0" * 60)  # finished
    newer = tmp_path / "spark-k-64.jsa"
    assert session._archive_options("k") == f'"-XX:SharedArchiveFile={newer}"'
    assert sorted(p.name for p in tmp_path.iterdir()) == [newer.name]
    os.truncate(newer, 32)
    assert session._archive_options("k") == f'"-XX:ArchiveClassesAtExit={dump}"'
    assert not list(tmp_path.iterdir())


@pytest.fixture(scope="module")
def moved(starts, tmp_path_factory):
    """The published cache copied to another path, then two sessions over
    the copy: the archive records the cache's own conf directory, so the
    copy has a key of its own and its first start dumps; the second
    publishes and maps that dump."""
    cache = tmp_path_factory.mktemp("moved") / "jvmcache"
    shutil.copytree(starts[0], cache)
    copied = archives(cache)
    first = start(cache)
    second = start(cache)
    return cache, copied, first, second, archives(cache)


def test_moved_cache_dumps_its_own_archive(moved):
    cache, [copied], (first, _, stderr), (second, stdout, _), [archive] = moved
    [arg] = first["archive_args"]
    assert arg.startswith(f"-XX:ArchiveClassesAtExit={cache}/spark-")
    assert not [m for m in first["mapped"] if m.startswith(str(cache))]
    assert "Unable to use shared archive" not in stderr
    assert archive != copied
    assert second["archive_args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in second["mapped"]
    assert "[cds" not in stdout


def test_truncated_archive_is_replaced_not_mapped(moved):
    # The fixture has taken its reports: cutting its archive short changes
    # none of them.
    cache, *_, [archive] = moved
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 3)
    report, stdout, _ = start(cache)
    assert not [m for m in report["mapped"] if m.startswith(str(cache))]
    assert "ArchiveClassesAtExit" in report["archive_args"][0]
    assert archive not in archives(cache)
    assert "[cds" not in stdout


def test_unwritable_cache_launches_without_archive(tmp_path):
    # A regular file where the cache directory should be: no permission
    # bits make a directory unwritable to root.
    cache = tmp_path / "cache"
    cache.write_text("")
    report, stdout, _ = start(cache)
    assert report["archive_args"] == []
    assert report["jit_args"] == JIT_THREADS
    assert report["before"] is None and report["after"] is None
    assert "[cds" not in stdout


def test_real_conf_dir_launches_without_archive(starts, tmp_path):
    dumped = starts[0]
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.ui.showConsoleProgress false\n"
        "spark.driver.defaultJavaOptions -Dtest.conf=user\n")
    report, stdout, _ = start(dumped, conf_dir=conf)
    assert report["archive_args"] == report["jit_args"] == []
    assert report["defaults"] == "-Dtest.conf=user"
    assert report["test_args"] == ["-Dtest.conf=user"]
    assert not [m for m in report["mapped"] if m.startswith(str(dumped))]
    assert report["before"] == report["after"] == str(conf)
    assert "[cds" not in stdout


def test_rejected_archive_warns_on_stderr_only(starts, tmp_path):
    # An extra class-path entry makes HotSpot reject the archive; the
    # session runs without it and the warning stays off stdout.
    dumped = starts[0]
    jar = tmp_path / "empty.jar"
    zipfile.ZipFile(jar, "w").close()
    report, stdout, stderr = start(dumped, submit_args=f"--driver-class-path {jar} pyspark-shell")
    assert report["archive_args"] == [f"-XX:SharedArchiveFile={archives(dumped)[0]}"]
    assert not [m for m in report["mapped"] if m.startswith(str(dumped))]
    assert "[cds" not in stdout
    assert "[warning][cds,dynamic] Unable to use shared archive" in stderr
