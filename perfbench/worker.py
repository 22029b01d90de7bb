"""One benchmark job in a fresh driver process.

``python perfbench/worker.py <spec.json>`` reads a job spec written by
``run.py`` and writes its result as JSON to ``spec["result"]``.  The
process starts its own Spark driver, so it pays JVM start-up and JIT
warm-up as a ``spark-submit`` of the same job would.

Modes:

- ``translate``: the four-stage pipeline through ``cli.main`` argv;
- ``catalog``: catalog rows in one session: an untimed warm pass whose
  results are compared with their DuckDB oracles, then timed passes
  that build each row and ``count()`` it.

With ``trace`` set, the job's calls into the program's public functions
are spanned, py4j round trips are counted and Spark writes an event log.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402

PKG = "recommendation_translation_spark"


def spark_conf(spec: dict) -> dict[str, str]:
    work = spec["work"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if spec["trace"]:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def host_cpu() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of all of this host's CPUs so far."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Timer:
    """Wall time of the regions it measures, and that time less the share
    the hypervisor stole.

    On a shared virtual host, other tenants can take a large and varying
    share of this host's CPUs (steal).  ``run_s`` scales wall time by the
    fraction of runnable CPU time the host actually got while measuring,
    so it reads what the same work takes on an uncontended host.
    """

    def __init__(self) -> None:
        self.wall_s = 0.0
        self.busy = self.stolen = 0

    @contextmanager
    def measure(self):
        t, (busy, stolen) = time.perf_counter(), host_cpu()
        try:
            yield
        finally:
            self.wall_s += time.perf_counter() - t
            busy1, stolen1 = host_cpu()
            self.busy += busy1 - busy
            self.stolen += stolen1 - stolen

    @property
    def run_s(self) -> float:
        wanted = self.busy + self.stolen
        return self.wall_s * (1.0 - self.stolen / wanted) if wanted else self.wall_s

    def to_json(self) -> dict:
        return {"run_s": self.run_s, "wall_s": self.wall_s,
                "steal_frac": self.stolen / max(1, self.busy + self.stolen)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_driver(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def translate_wrappers(rec: tr.SpanRecorder) -> None:
    """Span the public functions the CLI calls.  ``cli.run`` imports them
    from their modules at call time, so patched attributes are used."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PKG}.{name}")

    def written(sp, args, kwargs, result):
        sp.counts["bytes"] = dir_bytes(args[1])

    def trained(sp, args, kwargs, result):
        sp.counts["sites_failed"] = sum(1 for r in result.values() if r.error)

    def scored(sp, args, kwargs, result):
        models = args[1]
        sp.counts["sites_empty"] = sum(
            1 for m in models.values() if getattr(m, "model", m) is None
        )

    rec.wrap(mod("cli"), "run", "cli.run")
    readers, writers = mod("sources.readers"), mod("sources.writers")
    for fn in ("read_raw_data_tsv", "read_sitelinks_tsv", "read_pagecounts"):
        rec.wrap(readers, fn, f"sources.{fn}")
    rec.wrap(writers, "write_parquet", "sources.write_parquet", written)
    rec.wrap(writers, "write_predictions_csv", "sources.write_predictions_csv", written)
    rec.wrap(mod("operators.rank"), "normalized_rank", "operators.normalized_rank")
    rec.wrap(mod("operators.features"), "pivot_features", "operators.pivot_features")
    rec.wrap(mod("pipeline.train"), "build_models", "pipeline.build_models", trained)
    score = mod("pipeline.score")
    rec.wrap(score, "score_items", "pipeline.score_items", scored)
    rec.wrap(score, "assemble_predictions", "pipeline.assemble_predictions")


def run_translate(spec: dict) -> dict:
    rec = tr.SpanRecorder()
    if spec["trace"]:
        tr.count_py4j(rec)
        translate_wrappers(rec)
    from recommendation_translation_spark import cli
    from recommendation_translation_spark.session import get_spark

    setup, job = Timer(), Timer()
    with setup.measure(), rec.span("session.get_spark"):
        spark = get_spark(extra_conf=spark_conf(spec))
    with job.measure(), rec.span("job"):
        rc = cli.main(spec["argv"])
    rss = peak_rss_mb(spark)
    if spec.get("extra_argv"):
        # after timing: a second job through the split-input readers
        with rec.span("extra_job"):
            cli.main(spec["extra_argv"])
    stop_driver(spark)
    return {"rc": rc, "setup": setup.to_json(), "job": job.to_json(), "peak_rss_mb": rss,
            "spans": rec.to_json(), "py4j_total": rec.py4j_total}


# --------------------------------------------------------------------------
# catalog


def _hygiene(spark) -> None:
    """Between rows, as bench.py does: drop caches and memory-sink tables,
    and let the JVM free the previous rows' unreferenced blocks."""
    from recommendation_translation_spark.streaming.events_stream import (
        drop_memory_sink_tables,
    )

    spark.catalog.clearCache()
    drop_memory_sink_tables(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def oracle_results(spec: dict, oracles: dict[str, str]) -> tuple[dict, threading.Thread]:
    """Start computing each row's DuckDB oracle on one low-priority thread;
    the dict fills in as the thread runs.

    It runs beside the warm pass, whose builders keep the driver busy on
    one core, so the oracles cost the run no wall time of their own.
    """
    import duckdb

    out: dict = {}

    def compute():
        os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 19)
        con = duckdb.connect(config={"threads": 1})
        for table in spec["tables"]:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{spec['data_dir']}/{table}.parquet')")
        for name in spec["rows"]:
            out[name] = con.sql(oracles[name]).df()
        con.close()

    thread = threading.Thread(target=compute, daemon=True)
    thread.start()
    return out, thread


def run_catalog(spec: dict) -> dict:
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_utils import compare

    import __spark_entry__ as entry
    from recommendation_translation_spark.session import get_spark

    rec = tr.SpanRecorder()
    if spec["trace"]:
        tr.count_py4j(rec)
    rows, data = spec["rows"], spec["data_dir"]
    queries = entry.queries()

    setup = Timer()
    with setup.measure(), rec.span("session.get_spark"):
        spark = get_spark(extra_conf=spark_conf(spec))
    expected, oracle_thread = oracle_results(spec, entry.oracle_sql())
    with setup.measure(), rec.span("warm_pass"):
        for name in rows:
            _hygiene(spark)
            with rec.span(f"warm.{name}"):
                try:
                    queries[name](spark, data).count()
                except Exception as exc:  # the timed pass records the failure
                    print(f"warm pass: {name} raised {exc}"[:300], file=sys.stderr)
    oracle_thread.join()
    duck = duckdb.connect()
    checks: dict[str, str] = {}

    def timed_pass(label: str, traced: bool) -> tuple[Timer, list[str]]:
        """Build and count every row; the first pass also compares each
        row with its oracle after its timing stops, later passes compare
        row counts."""
        total, bad = Timer(), []
        with rec.span(label):
            for name in rows:
                _hygiene(spark)
                try:
                    before = total.wall_s
                    with total.measure():
                        if traced:
                            with rec.span(f"queries.{name}.build"):
                                df = queries[name](spark, data)
                            with rec.span(f"queries.{name}.exec"):
                                n = df.count()
                        else:
                            df = queries[name](spark, data)
                            n = df.count()
                    print(f"# {label} {name}: {total.wall_s - before:.3f}s rows={n}",
                          file=sys.stderr)
                    if name not in checks:
                        ok, checks[name] = compare(df, duck.from_df(expected[name]))
                    else:
                        ok = n == len(expected[name])
                except Exception as exc:  # a raising row is a failed operation
                    ok, checks[name] = False, f"raised: {exc}"[:300]
                if not ok:
                    bad.append(name)
        return total, bad

    passes, failed = [], []
    t_measure = time.perf_counter()
    while not passes or time.perf_counter() - t_measure < spec["seconds"]:
        timer, bad = timed_pass(f"pass{len(passes)}", False)
        passes.append(timer.to_json())
        failed.append(bad)
    traced = None
    if spec["trace"]:
        timer, bad = timed_pass("traced_pass", True)
        traced = timer.to_json()
        failed.append(bad)
    rss = peak_rss_mb(spark)
    stop_driver(spark)
    return {
        "setup": setup.to_json(), "job": _median_pass(passes), "passes": passes,
        "traced_job": traced, "peak_rss_mb": rss, "checks": checks,
        "pass_failures": failed, "spans": rec.to_json(),
        "py4j_total": rec.py4j_total,
    }


def _median_pass(passes: list[dict]) -> dict:
    """The pass with the median ``run_s`` (the lower one of an even count)."""
    return sorted(passes, key=lambda p: p["run_s"])[(len(passes) - 1) // 2]


def main(argv: list[str]) -> int:
    with open(argv[1]) as fh:
        spec = json.load(fh)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(spec["work"], sub), exist_ok=True)
    result = run_translate(spec) if spec["mode"] == "translate" else run_catalog(spec)
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
