"""The driver JVM's class-data archive, end to end in fresh processes.

Each child process points ``session._CDS_DIR`` at a temporary cache,
builds a session through ``get_spark`` and reports which archives its
JVM mapped (``/proc/<pid>/maps``), the JVM's input arguments and a
setting read back from the session.  The chain covers the archive's
lifecycle: the first launch trains and publishes at exit, another heap
trains another archive, a leftover ``.part`` is never mapped, a later
launch maps the published archive, and an unwritable cache or a conf
directory with real settings falls back to a plain launch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys
from recommendation_translation_spark import session
session._CDS_DIR = sys.argv[1]
spark = session.get_spark(app_name="cds", shuffle_partitions=1, extra_conf={
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[2]})
from pyspark import SparkContext
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith((".jsa", ".part"))})
runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "mapped": mapped,
    "args": list(runtime.getInputArguments()),
    "rows": spark.range(10).count(),
    "probe": spark.conf.get("spark.graft.probe", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}))
"""

#: an id above any kernel's pid_max: the owner of a dead training dump
DEAD_PID = 999_999_999


def _start(tmp, cache: str, heap: str = "1g", conf_dir: str | None = None):
    if conf_dir is None:
        # a conf directory of templates only, as Spark's distribution ships
        conf_dir = str(tmp / "conf")
        os.makedirs(conf_dir, exist_ok=True)
        open(os.path.join(conf_dir, "spark-defaults.conf.template"), "w").close()
    env = {k: v for k, v in os.environ.items() if k not in (
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
        "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_DRIVER_MEMORY=heap, SPARK_GRAFT_CPUS="1", SPARK_CONF_DIR=conf_dir,
               PYTHONPATH=REPO + os.pathsep + env.get("PYTHONPATH", ""))
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, cache, str(tmp)], env=env, cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _result(proc, conf_dir: str | None = None) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    assert "[cds" not in out and "[cds" not in err
    res = json.loads(out.strip().splitlines()[-1])
    assert res["rows"] == 10
    # the launch's conf directory is restored right after it
    assert conf_dir is None or res["conf_dir"] == conf_dir
    return res


def _flags(res: dict, prefix: str) -> list[str]:
    return [a.split("=", 1)[1] for a in res["args"] if a.startswith(prefix)]


def test_archive_lifecycle(tmp_path):
    cache = str(tmp_path / "cds")
    blocked = tmp_path / "file"
    blocked.write_text("")
    real_conf = tmp_path / "realconf"
    real_conf.mkdir()
    (real_conf / "spark-defaults.conf").write_text("spark.graft.probe on\n")

    train, other_heap, unwritable, configured = (
        _start(tmp_path, cache),
        _start(tmp_path, cache, heap="1100m"),
        _start(tmp_path, str(blocked / "cds")),
        _start(tmp_path, str(tmp_path / "cds2"), conf_dir=str(real_conf)),
    )
    first = _result(train, str(tmp_path / "conf"))
    # the first launch trains: nothing of the cache mapped, the caller's
    # options after the archive flags
    part = _flags(first, "-XX:ArchiveClassesAtExit=")
    assert len(part) == 1 and part[0].endswith(f".{train.pid}.part")
    assert not [m for m in first["mapped"] if m.startswith(cache)]
    tmpdir = first["args"].index(f"-Djava.io.tmpdir={tmp_path}")
    assert tmpdir > first["args"].index(f"-XX:ArchiveClassesAtExit={part[0]}")
    key = os.path.basename(part[0]).split(".")[0]
    # a changed key (another heap) trains its own archive
    other = _flags(_result(other_heap), "-XX:ArchiveClassesAtExit=")
    other_key = os.path.basename(other[0]).split(".")[0]
    assert other_key != key
    assert set(os.listdir(cache)) == {"conf", f"{key}.jsa", f"{other_key}.jsa"}

    # no archive flag, and the session works as without the archive; the
    # real conf file turns the archive off and its setting still applies
    plain, conf_file = _result(unwritable), _result(configured, str(real_conf))
    for res in (plain, conf_file):
        assert not [a for a in res["args"] if "Archive" in a or "cds" in a]
        assert f"-Djava.io.tmpdir={tmp_path}" in res["args"]
    assert conf_file["probe"] == "on" and plain["probe"] is None
    assert not os.path.exists(tmp_path / "cds2")

    # a leftover dump, complete but unpublished, whose owner lives (this
    # process), and a dead owner's dump: neither is mapped, the launch
    # trains, and the dead owner's dump is deleted
    live = os.path.join(cache, f"{key}.{os.getpid()}.part")
    os.replace(os.path.join(cache, f"{key}.jsa"), live)
    shutil.copyfile(__file__, os.path.join(cache, f"{key}.{DEAD_PID}.part"))
    retrain, mapping = _start(tmp_path, cache), _start(tmp_path, cache, heap="1100m")
    second = _result(retrain)
    assert not [m for m in second["mapped"] if m.startswith(cache)]
    assert _flags(second, "-XX:ArchiveClassesAtExit=")
    # a published archive is mapped
    mapped = _result(mapping)
    jsa = os.path.join(cache, f"{other_key}.jsa")
    assert jsa in mapped["mapped"]
    assert _flags(mapped, "-XX:SharedArchiveFile=") == [jsa]
    assert set(os.listdir(cache)) == {
        "conf", f"{key}.jsa", f"{other_key}.jsa", os.path.basename(live)}
