"""SparkSession construction.

The reference builds its session in JobRunner.scala:21-27 (appName +
optional ``master("local[*]")``).  We add the settings a Catalyst-first
engine wants everywhere:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast) — replaces the reference's hand-rolled fixed-16-partition
  ``SitePartitioner`` (FeatureExtractor.scala:40-48).
- Arrow on (fast pandas interchange for the Pandas-UDF extension ops).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- shuffle partitions sized to the local core count rather than the 200
  default; on a real cluster this is overridden by AQE + explicit conf.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
from typing import Callable, Iterator

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["c1_only", "ensure_python_protobuf", "get_spark", "inherit_local_properties"]

#: Known locations of a vendored pure-python ``google.protobuf``
#: runtime on hosts whose interpreter has no protobuf installed (this
#: container): the google-cloud-sdk ships one with its appengine
#: platform tools.  Extend via $SPARK_GRAFT_PROTOBUF_PATH.
_PROTOBUF_FALLBACK_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_python_protobuf() -> bool:
    """Make ``google.protobuf`` importable if at all possible, and
    return whether it is — the gate for Spark 4's
    ``transformWithStateInPandas`` (its state serialization speaks
    protobuf from a separate "driver worker" python process).

    This container ships no python protobuf, which round-8..12 kept as
    the suite's one documented skip.  Round 13: the cloud-sdk's
    appengine platform vendors protobuf 6.32.0-dev, one MINOR version
    behind Spark 4.1.2's StateMessage gencode (6.33.0) — within the
    same major, so the only blocker is the runtime's gencode-newer-
    than-runtime guard, which protobuf itself provides an official
    escape hatch for (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``,
    google/protobuf/runtime_version.py).  When falling back we append
    the vendored path to ``sys.path`` (never shadowing a real
    install), set that env var, and extend ``$PYTHONPATH`` so JVM-
    spawned python workers inherit both.

    MUST run before the JVM starts (the streaming runner's env is the
    JVM's env) — ``get_spark`` calls it, and tests/conftest.py calls
    it at import time.  End-to-end verified: stream_user_stats_tws
    output matches the applyInPandasWithState twin exactly."""
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except ImportError:
        pass
    candidates = (
        os.environ.get("SPARK_GRAFT_PROTOBUF_PATH"),
    ) + _PROTOBUF_FALLBACK_PATHS
    for p in candidates:
        if not p or not os.path.isfile(
            os.path.join(p, "google", "protobuf", "descriptor.py")
        ):
            continue
        if p not in sys.path:
            sys.path.append(p)
        try:
            import google.protobuf.descriptor  # noqa: F401
        except ImportError:
            if p in sys.path:
                sys.path.remove(p)
            continue
        # the vendored runtime may trail the gencode by a minor
        # version; the check's own documented disable flag covers the
        # gap (no other protobuf user exists in this interpreter)
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        existing = os.environ.get("PYTHONPATH", "")
        if p not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                f"{existing}{os.pathsep}{p}" if existing else p
            )
        return True
    return False


def get_spark(
    app_name: str = "recommendation_translation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit supply it.
    ``extra_conf`` entries override the settings below, except that a
    ``spark.driver.extraJavaOptions`` is appended to the archive flags.

    A driver JVM this call launches starts from a class-data archive
    (JDK class-data sharing): the classes an earlier launch with the
    same key loaded, already parsed and verified, are mapped from
    ``__cds__/<key>.jsa`` beside this module instead of read from
    Spark's jars.  The key hashes the archive directory's path, the
    ``java`` binary, the jars, the driver heap and the JVM flags, so a
    moved checkout, an upgrade or another heap trains a new archive.
    Without a published archive the JVM trains one: it dumps the
    classes it loaded when it exits (a slower launch and exit, once per
    key), and this process publishes the dump at interpreter exit after
    stopping the session and waiting for the JVM.  No archive is used,
    and the JVM starts as without it, when the directory is not
    writable, when anything adds classpath
    directories (a conf directory holding more than templates,
    ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``,
    ``PYSPARK_SUBMIT_ARGS``, ``spark.driver.extraClassPath`` or
    ``spark.jars``) or when the caller's Java options already choose
    class-data sharing.
    """
    # before the JVM exists: the streaming python runners inherit the
    # JVM's env, so the protobuf fallback path must be on PYTHONPATH now
    ensure_python_protobuf()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
        "spark.ui.enabled": "false",
        # Parquet vectorized reader + pushdown are on by default; keep
        # them explicit so a misconfigured cluster profile can't lose them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # The driver-generated events table stores TIMESTAMP(NANOS) which
        # Spark's TimestampType (µs) cannot represent; read as long and
        # convert in sources.readers.read_events.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # FAIR scheduling so the per-site training fan-out
        # (pipeline/train.py, mirroring JobRunner.scala:51-54) round-
        # robins cluster slots across its 8 concurrent sites instead of
        # FIFO-queueing one site's hundreds of tree-depth jobs ahead of
        # the rest; each site thread sets its own spark.scheduler.pool.
        # The CLI's background artifact writes (parquet and model saves,
        # cli.run) set no pool, so they run in the default pool and take
        # their fair share beside the sites instead of queueing behind
        # them.  Static conf — a no-op on sessions built elsewhere (the
        # pool local-property degrades gracefully to FIFO there).
        "spark.scheduler.mode": "FAIR",
        **(extra_conf or {}),
    }
    launch = _archive_launch(conf)
    if launch is None:
        return _build(app_name, master, conf)
    flags, part, jsa = launch
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = f"{flags} {java_opts}".strip()
    # the launcher puts $SPARK_CONF_DIR first on the classpath, and the
    # archive only serves a classpath whose directories are empty
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(_CDS_DIR, "conf")
    try:
        spark = _build(app_name, master, conf)
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if part is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, part, jsa)
    return spark


def _build(app_name: str, master: str, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Dynamic class-data archives of the driver JVM, one ``<key>.jsa`` per
#: launch key, and the empty ``conf`` directory they are trained and
#: mapped under.  Gitignored; deleting it is always safe.
_CDS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "__cds__")
#: Turns off every ``cds`` tag set: a dump warns about each class it
#: cannot archive, and a rejected archive warns on ``cds,dynamic``.
_CDS_LOG = "-Xlog:cds*=off"
#: Seconds the exiting interpreter waits for a training JVM's dump.
_CDS_DUMP_WAIT_S = 120
#: Settings that add classpath entries the archive cannot check.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "PYSPARK_SUBMIT_ARGS")
_CLASSPATH_CONF = ("spark.driver.extraClassPath", "spark.jars")


def _archive_launch(conf: dict[str, str]) -> tuple[str, str | None, str] | None:
    """``(flags, part, jsa)`` for the driver JVM this session launches:
    map ``jsa`` if it is published (``part`` None), else train ``part``
    for publishing as ``jsa``.  None when no archive can serve the
    launch or no JVM is launched."""
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or any(conf.get(k) for k in _CLASSPATH_CONF)
        or any(f in java_opts for f in ("-Xshare", "SharedArchiveFile",
                                        "ArchiveClassesAtExit"))
        # the launcher splits the option string on whitespace and quotes
        or any(c.isspace() or c in "\"'\\" for c in _CDS_DIR)
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    try:
        if java is None or os.path.isdir(conf_dir) and any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return None
        empty_conf = os.path.join(_CDS_DIR, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(_CDS_DIR, os.W_OK | os.X_OK):
            return None
        # what the JVM checks before it maps an archive: the app class
        # path starts with the conf directory, so a checkout moved or
        # copied elsewhere trains its own; -D properties are not
        # checked, and perfbench's differ per run
        digest = hashlib.sha256()
        digest.update(f"{empty_conf}\n".encode())
        java = os.path.realpath(java)
        digest.update(f"{java} {os.stat(java).st_mtime_ns}\n".encode())
        jars = os.path.join(spark_home, "jars")
        for name in sorted(os.listdir(jars)):
            if name.endswith(".jar"):
                st = os.stat(os.path.join(jars, name))
                digest.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
        flags = [_CDS_LOG] + [o for o in shlex.split(java_opts) if not o.startswith("-D")]
        digest.update(f"{conf['spark.driver.memory']} {' '.join(flags)}".encode())
        key = digest.hexdigest()[:20]
        _remove_orphan_parts()
    except (OSError, ValueError):
        return None
    jsa = os.path.join(_CDS_DIR, f"{key}.jsa")
    if os.path.isfile(jsa):
        return f"-XX:SharedArchiveFile={jsa} {_CDS_LOG}", None, jsa
    part = os.path.join(_CDS_DIR, f"{key}.{os.getpid()}.part")
    return f"-XX:ArchiveClassesAtExit={part} {_CDS_LOG}", part, jsa


def _remove_orphan_parts() -> None:
    """Delete the dumps of training processes that died unpublished."""
    for name in os.listdir(_CDS_DIR):
        key, _, pid = name.removesuffix(".part").rpartition(".")
        if name.endswith(".part") and key and pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(_CDS_DIR, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _publish_archive(proc: subprocess.Popen, part: str, jsa: str) -> None:
    """At interpreter exit: stop the session, wait for the training JVM
    to write its dump and exit, and publish the dump if it exited 0."""
    if proc.poll() is None:
        # at exit the gateway may already be broken; the wait below
        # still bounds the JVM's life and cleans up its dump
        with contextlib.suppress(Exception):
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            SparkContext._gateway.shutdown()
        proc.stdin.close()
    try:
        rc = proc.wait(timeout=_CDS_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    with contextlib.suppress(OSError):
        if rc == 0:
            os.replace(part, jsa)
        else:
            os.remove(part)


#: The HotSpot compiler directive of a one-job driver: no method is
#: compiled by C2, so methods that get hot stay with C1.
_C1_ONLY = '[{match: "*.*", c2: {Exclude: true}}]'


@contextlib.contextmanager
def c1_only(spark: SparkSession) -> Iterator[None]:
    """Compile with C1 only while the block runs: for a driver that runs
    one short job and exits, as ``spark-submit`` runs it.

    A short cold job's JIT costs more than the code it compiles saves:
    C2 compiler threads used 21.6 s of CPU in a 9.2 s job on 4 cores.
    A longer job whose tasks run in this JVM repays C2, so the caller
    picks the jobs (``cli.C1_ONLY_MAX_INPUT_BYTES``).  The
    block pushes the compiler directive ``_C1_ONLY`` onto the driver
    JVM's directive stack through the ``DiagnosticCommand`` MBean and
    pops it when the block exits, so it works whether ``get_spark`` or
    ``spark-submit`` launched the JVM, and a long session keeps C2
    outside the block.  A method whose C2 compile is excluded during the
    block stays C1-only for the rest of that JVM's life (HotSpot marks
    it not C2-compilable), which is what a one-job driver wants.

    The mark is part of the method's archived state, so a JVM that dumps
    a class-data archive when it exits (the first launch per archive
    key, ``get_spark``) keeps C2: every later JVM that maps the archive,
    warm sessions included, would run the marked methods C1-only.  When
    the JVM offers no such MBean or operation, the block runs as without
    it.
    """
    # no JVM behind the session (AttributeError), no such MBean or
    # operation (Py4JError), no temporary file (OSError)
    unavailable = (AttributeError, Py4JError, OSError)
    added = False
    try:
        if not _dumps_archive(spark):
            with tempfile.NamedTemporaryFile("w", suffix=".json") as directive:
                directive.write(_C1_ONLY)
                directive.flush()
                # the JVM parses the file on add; a file it cannot parse adds nothing
                added = _diagnostic_command(
                    spark, "compilerDirectivesAdd", directive.name
                ).startswith("1 compiler directives added")
    except unavailable:
        pass
    try:
        yield
    finally:
        if added:
            # a job that broke the gateway took the JVM and its directive with it
            with contextlib.suppress(*unavailable):
                _diagnostic_command(spark, "compilerDirectivesRemove")


def _dumps_archive(spark: SparkSession) -> bool:
    """Whether the driver JVM writes a dynamic class-data archive at exit."""
    flags = _diagnostic_command(spark, "vmFlags").split()
    return "-XX:+DynamicDumpSharedSpaces" in flags


def _diagnostic_command(spark: SparkSession, op: str, *args: str) -> str:
    """Run the JVM diagnostic command ``op`` (``jcmd``'s, in camel case)
    and return its output.  ``MBeanServer.invoke`` is called through the
    interface's ``Method``: py4j cannot resolve it on the platform
    server's class, whose package the JDK does not export."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway

    def array(cls, *items):
        out = gateway.new_array(cls, len(items))
        for i, item in enumerate(items):
            out[i] = item
        return out

    for_name = jvm.java.lang.Class.forName
    invoke = for_name("javax.management.MBeanServer").getMethod("invoke", array(
        jvm.java.lang.Class, for_name("javax.management.ObjectName"),
        for_name("java.lang.String"), for_name("[Ljava.lang.Object;"),
        for_name("[Ljava.lang.String;")))
    server = jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer()
    name = jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand")
    string = jvm.java.lang.String
    return invoke.invoke(server, array(
        jvm.java.lang.Object, name, op,
        array(jvm.java.lang.Object, array(string, *args)),
        array(string, "[Ljava.lang.String;")))


def inherit_local_properties(sc: SparkContext, fn: Callable) -> Callable:
    """Wrap ``fn`` so that, run on a pool thread, it submits its jobs
    under the calling thread's local properties (job group, scheduler
    pool, ...).  Spark keeps those per thread, so without this a pool's
    jobs lose the caller's job group.  Unlike
    ``pyspark.util.inheritable_thread_target``, every call installs its
    own copy: a task that sets a property (``build_models``' per-site
    scheduler pool) cannot leak it into the other tasks."""
    props = sc._jsc.sc().getLocalProperties().clone()

    def run(*args, **kwargs):
        sc._jsc.sc().setLocalProperties(props.clone())
        return fn(*args, **kwargs)

    return run
