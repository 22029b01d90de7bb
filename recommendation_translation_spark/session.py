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

import os
import sys
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["ensure_python_protobuf", "get_spark", "inherit_local_properties"]

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
    """
    # before the JVM exists: the streaming python runners inherit the
    # JVM's env, so the protobuf fallback path must be on PYTHONPATH now
    ensure_python_protobuf()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Parquet vectorized reader + pushdown are on by default; keep
        # them explicit so a misconfigured cluster profile can't lose them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The driver-generated events table stores TIMESTAMP(NANOS) which
        # Spark's TimestampType (µs) cannot represent; read as long and
        # convert in sources.readers.read_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
        .config("spark.scheduler.mode", "FAIR")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
