"""The driver JVM's class-data archive, end to end in fresh processes.

Each child process points ``session._CDS_DIR`` at a temporary cache,
builds a session through ``get_spark`` and reports which archives its
JVM mapped (``/proc/<pid>/maps``), the JVM's input arguments and a
setting read back from the session, and whether ``session.c1_only``
pushed its compiler directive.  A child given ``LOAD_LOG`` also
logs where each class it loaded came from.  The chain covers the
archive's lifecycle: the first launch trains and publishes at exit,
another heap trains another archive, a leftover ``.part`` is never
mapped, a later launch loads its classes from the published archive, a
cache copied to another path trains its own, and an unwritable cache or
a conf directory with real settings falls back to a plain launch.
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
    "spark.driver.extraJavaOptions": " ".join(["-Djava.io.tmpdir=" + sys.argv[2], *sys.argv[3:]])})
from pyspark import SparkContext
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith((".jsa", ".part"))})
runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
with session.c1_only(spark):
    directives = session._diagnostic_command(spark, "compilerDirectivesPrint")
print(json.dumps({
    "pid": pid,
    "mapped": mapped,
    "args": list(runtime.getInputArguments()),
    "rows": spark.range(10).count(),
    "c1_only": directives.count("Directive:") == 2,
    "probe": spark.conf.get("spark.graft.probe", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}))
"""

#: an id above any kernel's pid_max: the owner of a dead training dump
DEAD_PID = 999_999_999
#: Logs the source of every class the JVM loads to a file per JVM.  A
#: JVM flag, so it is part of the archive key: the launches that train
#: and map one archive must both have it.
LOAD_LOG = "-Xlog:class+load=info:file={tmp}/class-load-%p.log"
#: The source the log names for a class loaded from the dynamic archive.
FROM_ARCHIVE = "source: shared objects file (top)"


def _start(tmp, cache: str, heap: str = "1g", conf_dir: str | None = None,
           java_opts: tuple[str, ...] = ()):
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
        [sys.executable, "-c", CHILD, cache, str(tmp), *java_opts], env=env, cwd=REPO,
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


def _loads(tmp, res: dict) -> tuple[int, int]:
    """(classes loaded, of those from the dynamic archive) by a child
    given ``LOAD_LOG``."""
    with open(os.path.join(tmp, f"class-load-{res['pid']}.log")) as fh:
        sources = [ln for ln in fh if " source: " in ln]
    return len(sources), sum(FROM_ARCHIVE in ln for ln in sources)


def test_archive_lifecycle(tmp_path):
    cache = str(tmp_path / "cds")
    blocked = tmp_path / "file"
    blocked.write_text("")
    real_conf = tmp_path / "realconf"
    real_conf.mkdir()
    (real_conf / "spark-defaults.conf").write_text("spark.graft.probe on\n")
    load_log = (LOAD_LOG.format(tmp=tmp_path),)

    train, other_heap, unwritable, configured = (
        _start(tmp_path, cache),
        _start(tmp_path, cache, heap="1100m", java_opts=load_log),
        _start(tmp_path, str(blocked / "cds")),
        _start(tmp_path, str(tmp_path / "cds2"), conf_dir=str(real_conf)),
    )
    first = _result(train, str(tmp_path / "conf"))
    # the first launch trains: nothing of the cache mapped, the caller's
    # options after the archive flags
    part = _flags(first, "-XX:ArchiveClassesAtExit=")
    assert len(part) == 1 and part[0].endswith(f".{train.pid}.part")
    assert not [m for m in first["mapped"] if m.startswith(cache)]
    # a training JVM keeps C2: what the directive marks C1-only would be
    # archived with its methods
    assert not first["c1_only"]
    tmpdir = first["args"].index(f"-Djava.io.tmpdir={tmp_path}")
    assert tmpdir > first["args"].index(f"-XX:ArchiveClassesAtExit={part[0]}")
    key = os.path.basename(part[0]).split(".")[0]
    # a changed key (another heap) trains its own archive, loading no
    # class from an archive of its own
    other_first = _result(other_heap)
    other = _flags(other_first, "-XX:ArchiveClassesAtExit=")
    other_key = os.path.basename(other[0]).split(".")[0]
    assert other_key != key
    loaded, from_archive = _loads(tmp_path, other_first)
    assert loaded > 1000 and from_archive == 0
    assert set(os.listdir(cache)) == {"conf", f"{key}.jsa", f"{other_key}.jsa"}

    # no archive flag, and the session works as without the archive; the
    # real conf file turns the archive off and its setting still applies
    plain, conf_file = _result(unwritable), _result(configured, str(real_conf))
    for res in (plain, conf_file):
        assert not [a for a in res["args"] if "Archive" in a or "cds" in a]
        assert f"-Djava.io.tmpdir={tmp_path}" in res["args"]
        assert res["c1_only"]
    assert conf_file["probe"] == "on" and plain["probe"] is None
    assert not os.path.exists(tmp_path / "cds2")

    # a leftover dump, complete but unpublished, whose owner lives (this
    # process), and a dead owner's dump: neither is mapped, the launch
    # trains, and the dead owner's dump is deleted
    live = os.path.join(cache, f"{key}.{os.getpid()}.part")
    os.replace(os.path.join(cache, f"{key}.jsa"), live)
    shutil.copyfile(__file__, os.path.join(cache, f"{key}.{DEAD_PID}.part"))
    # the cache copied to another path, as with a copied or moved checkout
    moved = str(tmp_path / "elsewhere" / "cds")
    shutil.copytree(cache, moved, ignore=shutil.ignore_patterns("*.part"))
    retrain, mapping, moved_run = (
        _start(tmp_path, cache),
        _start(tmp_path, cache, heap="1100m", java_opts=load_log),
        _start(tmp_path, moved, heap="1100m", java_opts=load_log),
    )
    second = _result(retrain)
    assert not [m for m in second["mapped"] if m.startswith(cache)]
    assert _flags(second, "-XX:ArchiveClassesAtExit=")
    # a published archive is mapped, and the JVM accepts it: most
    # classes come from it
    mapped = _result(mapping)
    jsa = os.path.join(cache, f"{other_key}.jsa")
    assert jsa in mapped["mapped"]
    assert _flags(mapped, "-XX:SharedArchiveFile=") == [jsa]
    loaded, from_archive = _loads(tmp_path, mapped)
    assert from_archive > loaded / 2
    assert mapped["c1_only"] and not second["c1_only"]
    assert set(os.listdir(cache)) == {
        "conf", f"{key}.jsa", f"{other_key}.jsa", os.path.basename(live)}
    # the JVM checks the class path, which starts with the cache's conf
    # directory: the copy's archive would be rejected, so the copy trains
    # its own under another key and publishes it beside the copied ones
    copied = _result(moved_run)
    (moved_part,) = _flags(copied, "-XX:ArchiveClassesAtExit=")
    moved_key = os.path.basename(moved_part).split(".")[0]
    assert moved_key != other_key and os.path.dirname(moved_part) == moved
    assert _loads(tmp_path, copied)[1] == 0 and not copied["c1_only"]
    assert set(os.listdir(moved)) == {"conf", f"{other_key}.jsa", f"{moved_key}.jsa"}
