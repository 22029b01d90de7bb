"""The C1-only compiler directive scope of a one-job driver
(``session.c1_only``).

The directive stack is checked in a driver JVM of its own, launched
plain (an unwritable class-data cache, so no archive to train at exit):
the suite's JVM may be the one that trains the archive, and a method
that a directive keeps from C2 there would be archived not
C2-compilable for every later JVM.  The checks that push no directive
run on the suite's session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JError

from recommendation_translation_spark import session
from recommendation_translation_spark.session import c1_only

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The directive stack before, inside and after a block that exits
#: normally, and inside and after one that raises; no Spark job runs.
SCOPE_CHILD = r"""
import json, sys
from recommendation_translation_spark import session
session._CDS_DIR = sys.argv[1]
spark = session.get_spark(app_name="c1-only", shuffle_partitions=1)
def stack():
    return session._diagnostic_command(spark, "compilerDirectivesPrint")
out = {"before": stack()}
with session.c1_only(spark):
    out["inside"] = stack()
out["after"] = stack()
try:
    with session.c1_only(spark):
        out["inside_raising"] = stack()
        raise RuntimeError("job failed")
except RuntimeError as e:
    out["raised"] = str(e)
out["after_raising"] = stack()
print(json.dumps(out))
"""


def _directives(printed: str) -> list[str]:
    """A printed compiler directive stack's directives, top first."""
    return printed.split("Directive:")[1:]


@pytest.fixture(scope="module")
def scope(tmp_path_factory) -> dict[str, list[str]]:
    tmp = tmp_path_factory.mktemp("c1_only")
    blocked = tmp / "file"
    blocked.write_text("")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="1",
               PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run([sys.executable, "-c", SCOPE_CHILD, str(blocked / "cds")],
                          env=env, cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out.pop("raised") == "job failed"
    return {k: _directives(v) for k, v in out.items()}


def test_block_adds_one_directive_and_removes_it(scope):
    before = scope["before"]
    assert len(before) == 1 and before[0].startswith(" (default)")
    inside = scope["inside"]
    assert len(inside) == 2 and inside[1] == before[0]
    # the pushed directive excludes every method from C2 and leaves C1 on
    top = inside[0]
    assert "matching: *.*" in top
    c1, c2 = top.split("c2 directives:")
    assert "Exclude:false" in c1 and "Exclude:true" in c2
    assert scope["after"] == before


def test_block_removes_its_directive_on_an_exception(scope):
    assert scope["inside_raising"] == scope["inside"]
    assert scope["after_raising"] == scope["before"]


def test_jvm_that_dumps_an_archive_keeps_c2(spark, monkeypatch):
    calls = []

    def command(spark, op, *args):
        calls.append(op)
        return "-XX:+DynamicDumpSharedSpaces" if op == "vmFlags" else ""

    monkeypatch.setattr(session, "_diagnostic_command", command)
    with c1_only(spark):
        pass
    assert calls == ["vmFlags"]


def test_failed_diagnostic_command_runs_the_block_unchanged(spark, monkeypatch):
    calls = []

    def broken(spark, op, *args):
        calls.append(op)
        raise Py4JError("no such MBean")

    monkeypatch.setattr(session, "_diagnostic_command", broken)
    ran = []
    with c1_only(spark):
        ran.append(True)
    # the first command failed, so nothing is added or removed
    assert ran == [True] and calls == ["vmFlags"]


def test_session_without_a_jvm_runs_the_block():
    ran = []
    with c1_only(object()):
        ran.append(True)
    assert ran == [True]
