"""Shared benchmarking helpers for bench.py and tools_bench_sf1.py.

Both harnesses measure catalog rows by one rule (:func:`measure_rows`):

1. **Time each row.**  Cache hygiene first (:func:`hygiene`), then the
   row's build plus ``count()`` under a job group named for the row.
   The time is steal-adjusted (:class:`Timer`): wall time scaled by the
   share of runnable CPU time the host's hypervisor did not steal, so
   co-tenant load does not read as a slower plan.  A failed attempt is
   retried once.
2. **Re-measure over-fence rows once, at the end of the pass.**  A row
   is over the fence when it takes more than 2x its reference (anchor x
   the clamped host-probe factor).  Each re-measure starts from the ML
   memo its first measurement saw — a row that trained its models cold
   trains them cold again, a row that read them warm reads them warm —
   and the lower time is kept.
3. **Classify.**  A row still over 2x is a violation.

The deterministic HOST PROBE normalizes across machine classes: the
per-query anchors in BASELINE.md / BENCH_SF1_BASELINE.json are
wall-clock numbers recorded on one machine class, and the probe (a
data-independent CPU fingerprint — pure-JVM md5-hash and
regex-extract throughput, the two expression families that dominate
the catalog's hot paths) rides every sidecar; the reference divides by
it instead of adjudicating host changes in prose.
"""

from __future__ import annotations

import gc
import os
import sys
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession, functions as F


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """The SHARED untimed warmup both harnesses run before measuring:
    JVM/codegen spin-up, the OS page-cache read of the input files, the
    dominant plan shapes (hash agg, window, explode+agg, shuffle join
    — whole-stage-codegen compiles per shape), the Python worker
    daemon, and the Arrow driver-collection path.  Shared for two
    reasons: the first queries measured would otherwise absorb these
    one-time costs, and the HOST PROBE is context-sensitive — a probe
    taken after a light warmup reads ~1.3× slower than after this full
    block on the same machine (sustained all-core load holds CPU
    clocks up), so normalization only works if every harness measures
    the probe in the identical context."""
    from pyspark.sql import Window

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).count()
    li.limit(50_000).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    ).count()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w")).groupBy(
        "w"
    ).count().count()
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li.limit(50_000).join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    spark.range(1_000).mapInPandas(lambda it: it, "id long").count()
    spark.range(10_000).toPandas()
    # pre-warm the shared collapse dial's one-time duplication probe
    # (round-12 verdict #5): it is memoized per corpus, so measuring it
    # here keeps the one small approx_count_distinct job out of the
    # first timed collapse-consumer row at sf1+
    from .sources.readers import distinct_text_fraction

    distinct_text_fraction(spark, sf_dir)
    # r13: streaming is a dominant shape too (12 catalog rows) and the
    # engine's one-time costs — microbatch planner classes, state-store
    # provider init, the symmetric-hash stream-stream join codegen —
    # otherwise land on whichever streaming row the loop times first
    # (measured ~1.8 s on the first drain at sf0.1).  Two tiny drains
    # over the 25-row nation table warm a stateful aggregation and a
    # watermarked stream-stream join; both sink tables are dropped.
    from .streaming.events_stream import (
        drop_memory_sink_tables,
        run_stream_to_memory,
    )

    nation_schema = spark.read.parquet(
        os.path.join(sf_dir, "nation.parquet")
    ).schema
    tiny = (
        spark.readStream.schema(nation_schema)
        .option("pathGlobFilter", "nation.parquet").parquet(sf_dir)
    )
    run_stream_to_memory(
        tiny.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    ).count()
    ts = F.lit("2020-01-01 00:00:00").cast("timestamp")
    a = tiny.select("n_nationkey", ts.alias("ts")).withWatermark("ts", "1 hour")
    b = tiny.select(
        F.col("n_nationkey").alias("k2"), ts.alias("ts2")
    ).withWatermark("ts2", "1 hour")
    run_stream_to_memory(
        a.join(
            b,
            (F.col("n_nationkey") == F.col("k2"))
            & (F.col("ts2") >= F.col("ts") - F.expr("interval 30 minutes"))
            & (F.col("ts2") <= F.col("ts")),
        ),
        output_mode="append",
    ).count()
    drop_memory_sink_tables(spark)
    # r13: MLlib is a dominant shape as well (8+ catalog rows) and its
    # one-time costs — optimizer/aggregator class loading, the
    # treeAggregate codegen — measured ~8 s on whichever ML row the
    # loop times first.  One 2-iteration LogisticRegression fit on 200
    # synthetic rows absorbs them (~4 s untimed).
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    _tiny_ml = VectorAssembler(
        inputCols=["x"], outputCol="features"
    ).transform(
        spark.range(200).select(
            F.col("id").cast("double").alias("x"),
            (F.col("id") % 2).cast("double").alias("label"),
        )
    )
    LogisticRegression(maxIter=2, labelCol="label").fit(_tiny_ml)

#: Probe of the ANCHOR host class — the machine class on which the
#: BASELINE.md sf0.1 anchors are considered valid (min-of-3 quiet
#: runs, round-11 host: the class every anchor either was recorded on
#: or has been re-validated/re-anchored against under the documented
#: min-of-3-quiet-runs protocol).  A run whose measured probe differs
#: from this records a normalization factor in its sidecar and the 2x
#: fence compares probe-normalized ratios.  Update ONLY together with
#: a re-anchor pass, with a note in BASELINE.md.
#:
#: Calibration context matters: the probe is measured INSIDE the
#: harness, after the full warmup block, where it is session-stable
#: (three fresh r11 sessions: sums 0.236 / 0.236 / 0.256); a bare
#: session measures ~1.4x slower on the same machine because the JIT
#: is cold.  These values are the r11-host harness-context midpoint.
ANCHOR_PROBE = {"md5_2m_sec": 0.115, "regex_200k_sec": 0.130}

#: Clamp bounds for the normalization factor: the probe measures two
#: expression families, not the whole engine, so it must never scale
#: an anchor by more than the plausible host spread.  r14 (judge
#: sign-off, r13 verdict #7): the upper bound was 1.5 and saturated on
#: the 2-3x-slower sandboxes r12/r13 actually ran on, inflating every
#: normalized ratio there; widened to 3.0 — the observed sandbox
#: spread (r13 recorded probes 0.25-0.87 vs the 0.245 anchor, ~3.5x) —
#: with the RAW (unclamped) factor beside the clamped one and a
#: saturation flag in both summary lines (:func:`anchor_factors`).
PROBE_FACTOR_BOUNDS = (0.7, 3.0)


def probe_sum(probe: dict[str, float] | None) -> float | None:
    """Combined probe scalar: sum of the two families (both matter —
    the catalog's expensive rows split roughly evenly between
    hash-dominated dedup/shard work and regex-dominated gates)."""
    if not probe:
        return None
    try:
        v = float(probe["md5_2m_sec"]) + float(probe["regex_200k_sec"])
    except (KeyError, TypeError, ValueError):
        return None
    return v if v > 0 else None


def anchor_factors(
    current: dict[str, float] | None,
    anchor: dict[str, float] | None = None,
) -> dict:
    """The summary keys for the host-probe normalization.

    ``anchor_probe_factor`` f = clamp(probe_now / probe_anchor) scales
    every anchor into a reference: f > 1 means the current host is
    SLOWER than the anchor class, so raw times are inflated by exactly
    the machine, not the plan; f < 1 (faster host) tightens the
    comparison symmetrically.  Missing/invalid probes degrade to f = 1
    (raw comparison), never to an exception.  ``anchor_probe_factor_raw``
    is the unclamped ratio, and ``anchor_probe_clamped`` says the clamp
    saturated: the references then no longer follow the host, so the
    raw ratios need a second look; it is flagged on stderr as well."""
    cur = probe_sum(current)
    ref = probe_sum(anchor if anchor is not None else ANCHOR_PROBE)
    raw = round(cur / ref, 3) if cur and ref else None
    lo, hi = PROBE_FACTOR_BOUNDS
    factor = 1.0 if raw is None else round(min(hi, max(lo, cur / ref)), 3)
    clamped = raw is not None and raw != factor
    if clamped:
        print(f"# WARNING: host probe factor {raw} clamped to {factor} "
              f"(bounds {PROBE_FACTOR_BOUNDS}); re-check the raw ratios",
              file=sys.stderr)
    return {"anchor_probe_factor": factor, "anchor_probe_factor_raw": raw,
            "anchor_probe_clamped": clamped}


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

    A deliberate copy of ``perfbench/worker.py``'s ``Timer`` (the two are
    pinned equal by a test), with the tick source and the clock passed
    in so the measurement rule can be tested without a host.
    """

    def __init__(self, cpu=host_cpu, clock=time.perf_counter) -> None:
        self.cpu, self.clock = cpu, clock
        self.wall_s = 0.0
        self.busy = self.stolen = 0

    @contextmanager
    def measure(self):
        t, (busy, stolen) = self.clock(), self.cpu()
        try:
            yield
        finally:
            self.wall_s += self.clock() - t
            busy1, stolen1 = self.cpu()
            self.busy += busy1 - busy
            self.stolen += stolen1 - stolen

    @property
    def run_s(self) -> float:
        wanted = self.busy + self.stolen
        return self.wall_s * (1.0 - self.stolen / wanted) if wanted else self.wall_s

    @property
    def steal_frac(self) -> float:
        return self.stolen / max(1, self.busy + self.stolen)


def host_probe(
    spark: SparkSession, runs: int = 3, *, cpu=host_cpu,
    clock=time.perf_counter,
) -> dict[str, float]:
    """Deterministic, data-independent CPU fingerprint (seconds, lower
    = faster): md5-hash throughput over 2M synthetic rows (the
    dedup/shard hash family) and regex-extract throughput over 200k
    rows (the quality-gate family).  Pure-JVM expressions — no I/O, no
    Python workers.  Each probe runs once untimed (codegen for the
    shape) then ``runs`` timed executions with the MIN recorded:
    round 10's single-shot probes measured 0.400 vs 0.473 within the
    SAME round under different load, so the min-of-3 is the machine's
    capability, not the co-tenant's burst.  Each run is timed
    steal-adjusted by the same :class:`Timer` as the rows, so the
    factor measures the machine class, and steal during the probe
    neither raises the references nor double-counts against the
    steal-adjusted row times.
    """

    def _probe(df_builder) -> float:
        df_builder().count()  # untimed: codegen for this shape
        best = float("inf")
        for _ in range(max(1, runs)):
            timer = Timer(cpu, clock)
            with timer.measure():
                df_builder().count()
            best = min(best, timer.run_s)
        return round(best, 3)

    md5 = _probe(
        lambda: spark.range(2_000_000)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .filter("h is not null")
    )
    regex = _probe(
        lambda: spark.range(200_000)
        .select(
            F.size(
                F.regexp_extract_all(
                    F.concat(
                        F.lit("the quick brown fox jumps over the lazy dog "),
                        F.col("id").cast("string"),
                    ),
                    F.lit(r"\b\w{4,}\b"),
                    F.lit(0),
                )
            ).alias("n")
        )
        .filter("n >= 0")
    )
    return {"md5_2m_sec": md5, "regex_200k_sec": regex}


def hygiene(spark: SparkSession) -> None:
    """Between-row hygiene before every timed attempt, so no row pays
    for, or is served by, an earlier one.  Operators cache internal
    frames that later rows never read, and memory-sink tables from
    streaming drains hold full result sets in driver memory with no TTL
    (clearCache does not touch temp views).  localCheckpoint blocks are
    RDD-level state that clearCache cannot reach: the ContextCleaner
    frees them only after a JVM GC notices the dead references, which
    on a large heap lags dozens of rows — mid-loop rows measured 2-5x
    their isolated cost from that accumulation.  A Python collect drops
    the py4j handles, then one JVM GC lets the cleaner unpersist them.
    Referenced state (the ML model memo) is untouched."""
    from .streaming.events_stream import drop_memory_sink_tables

    spark.catalog.clearCache()
    drop_memory_sink_tables(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def row_order(names) -> list[str]:
    """Sorted order — per-row times compare run over run only if every
    row keeps its position — except that ml_train_rmse runs before the
    other ml_* rows: they share its memoized models, and the one-time
    training cost must land on the training row."""
    names = sorted(names)
    ml = [n for n in names if n.startswith("ml_")]
    if "ml_train_rmse" in ml and ml[0] != "ml_train_rmse":
        names.remove("ml_train_rmse")
        names.insert(names.index(ml[0]), "ml_train_rmse")
    return names


def row_runner(spark: SparkSession, sf_dir: str, qmap: dict):
    """The ``run`` of :func:`measure_rows` for catalog rows: hygiene,
    then the row's build plus ``count()`` timed, with every job it
    submits (pool threads too, via ``session.inherit_local_properties``)
    in a job group named for the row."""
    sc = spark.sparkContext

    def run(name: str, timer: Timer) -> int:
        hygiene(spark)
        sc.setJobGroup(name, name)
        try:
            with timer.measure():
                return qmap[name](spark, sf_dir).count()
        finally:
            sc._jsc.clearJobGroup()

    return run


def measure_rows(
    names, run, reference: dict[str, float], *, cpu=host_cpu,
    clock=time.perf_counter,
) -> dict[str, dict]:
    """Measure ``names`` in order by the shared rule (module docstring).

    ``run(name, timer)`` is one attempt: it times the row inside
    ``timer.measure()``, returns its row count and raises on failure.
    ``reference`` maps a row to its fence reference in seconds; a row
    without one is measured once.  Returns per row ``sec`` (the
    steal-adjusted time kept, -1.0 when it never succeeded),
    ``wall_sec`` (that attempt's raw wall time), ``attempts`` (every
    attempt's steal-adjusted time, -1.0 for a failure), ``rows`` and
    ``remeasured``."""
    from .catalog import ml

    out: dict[str, dict] = {}
    memo_at: dict[str, set] = {}  # ML memo keys when the kept time began

    def time_row(name: str) -> None:
        rec = out.setdefault(name, {"sec": -1.0, "wall_sec": -1.0,
                                    "attempts": [], "rows": None,
                                    "remeasured": False})
        for _ in range(2):
            timer = Timer(cpu, clock)
            memo = set(ml._ML_CACHE)
            try:
                rows = run(name, timer)
            except Exception as exc:  # noqa: BLE001 — recorded, never fatal
                rec["attempts"].append(-1.0)
                # one line, truncated: a Java stack trace would flood
                # the bounded output tail that carries the summary
                msg = " ".join(str(exc).split())[:200]
                print(f"# FAILED {name}: {msg}", file=sys.stderr)
                continue
            sec = round(timer.run_s, 3)
            rec["attempts"].append(sec)
            if rec["sec"] < 0 or sec < rec["sec"]:
                rec.update(sec=sec, wall_sec=round(timer.wall_s, 3), rows=rows)
                memo_at[name] = memo
            return

    for name in names:
        time_row(name)
        rec = out[name]
        print(f"# {name}: {rec['sec']}s (wall {rec['wall_sec']}s) "
              f"rows={rec['rows']}", file=sys.stderr)
    over = [n for n in names if out[n]["sec"] > 0 and n in reference
            and fence_row_outcome(out[n]["sec"], reference[n]) != "ok"]
    for name in over:
        for key in set(ml._ML_CACHE) - memo_at[name]:
            del ml._ML_CACHE[key]
        before = out[name]["sec"]
        out[name]["remeasured"] = True
        time_row(name)
        print(f"# re-measured {name}: {before}s -> {out[name]['sec']}s "
              f"(ref {round(reference[name], 3)}s)", file=sys.stderr)
    return out


def fence_row_outcome(t: float, ref: float) -> str:
    """``'ok'`` within 2x the reference ``ref``, else ``'violation'``;
    a failed measurement (t <= 0) is always a violation."""
    return "ok" if 0 < t <= 2.0 * ref else "violation"


def fence_run_is_clean(out: dict) -> bool:
    """A fence run is clean when ``violations_2x`` is empty."""
    return not out.get("violations_2x")


def fence_exit_code(out: dict) -> int:
    """Process exit for a fence run: 0 clean, 2 with violations."""
    return 0 if fence_run_is_clean(out) else 2


def fence_write_decision(
    new_out: dict, committed: dict | None,
) -> tuple[str, str | None]:
    """Where may a fence run land?  Returns (filename, refusal_reason).

    A violating run may not replace a committed artifact that is clean:
    it lands in ``BENCH_sf1_VIOLATING.json`` with the refusal reason,
    visible for triage but unable to pass for the repo's validated
    state.  A deliberate regression is recorded by re-anchoring
    ``BENCH_SF1_BASELINE.json``, after which the run is clean.  A clean
    run, or a run replacing an already-violating artifact, writes
    ``BENCH_sf1.json``."""
    if fence_run_is_clean(new_out) or not (
        committed is not None and fence_run_is_clean(committed)
    ):
        return "BENCH_sf1.json", None
    return "BENCH_sf1_VIOLATING.json", (
        "refusing to overwrite a clean committed fence artifact with a "
        f"violating run (violations: {sorted(new_out['violations_2x'])}); "
        "triage the rows, or re-anchor BENCH_SF1_BASELINE.json for a "
        "deliberate regression"
    )
