"""The catalog harnesses' shared measurement rule and the sf1 fence's
artifact guard, pinned in pure Python with an injected run function
and a fake CPU-tick source and clock (no Spark session, except the
job-group and Gumbel tests and the probe test, which needs one only to
build its column expressions): each row is timed steal-adjusted, a
failed attempt is retried once, an over-fence row is re-measured once
at the end of the pass from the ML memo its first measurement saw and
the lower time kept, the host probe is timed by the same rule, and a
violating run never silently replaces a clean committed fence
artifact."""

import importlib.util
import os
import sys
import threading
import types

from recommendation_translation_spark.catalog import ml as queries
from recommendation_translation_spark.bench_common import (
    ANCHOR_PROBE,
    PROBE_FACTOR_BOUNDS,
    Timer,
    anchor_factors,
    fence_exit_code,
    fence_row_outcome,
    fence_run_is_clean,
    fence_write_decision,
    host_probe,
    measure_rows,
    row_runner,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Host:
    """A fake host: CPU ticks and a clock that only a fake row advances."""

    def __init__(self):
        self.t = 0.0
        self.busy = self.stolen = 0

    def cpu(self):
        return self.busy, self.stolen

    def clock(self):
        return self.t

    def spend(self, wall, steal):
        self.t += wall
        self.stolen += round(100 * steal)
        self.busy += 100 - round(100 * steal)


def _measure(script, reference, steal=0.0):
    """measure_rows over ``script`` (row -> its attempts' wall seconds
    in order, ``'fail'`` raising) on a fake host at the given steal
    share; returns (result, the rows in the order they ran)."""
    host, ran = _Host(), []
    script = {k: list(v) for k, v in script.items()}

    def run(name, timer):
        ran.append(name)
        v = script[name].pop(0)
        if v == "fail":
            raise RuntimeError("boom\n  at java stack")
        with timer.measure():
            host.spend(v, steal)
        return 7

    res = measure_rows(list(script), run, reference, cpu=host.cpu,
                       clock=host.clock)
    return res, ran


def test_measure_protocol_single_clean_attempt():
    # a row within its fence, timed once; half the CPU was stolen, so
    # 8 s of wall time reads 4 s
    res, ran = _measure({"a": [8.0]}, {"a": 10.0}, steal=0.5)
    assert ran == ["a"]
    assert res["a"] == {"sec": 4.0, "wall_sec": 8.0, "attempts": [4.0],
                        "rows": 7, "remeasured": False}


def test_measure_protocol_failures_are_recorded_not_fatal():
    # a failed attempt is retried once, for every row; a row failing
    # twice is recorded as -1 and the pass goes on
    res, ran = _measure({"a": ["fail", 3.0], "b": ["fail", "fail"],
                         "c": [2.0]}, {})
    assert ran == ["a", "a", "b", "b", "c"]
    assert res["a"]["sec"] == 3.0 and res["a"]["attempts"] == [-1.0, 3.0]
    assert res["b"]["sec"] == -1.0 and res["b"]["attempts"] == [-1.0, -1.0]
    assert res["b"]["rows"] is None and not res["b"]["remeasured"]
    assert res["c"]["sec"] == 2.0


def test_measure_rows_remeasures_over_fence_row_at_end_keeping_min():
    # b reads 25 s against a 10 s reference: re-measured once, after
    # every other row, and the lower time kept; a row without a
    # reference is measured once whatever it reads
    res, ran = _measure({"a": [1.0], "b": [25.0, 12.0], "c": [99.0]},
                        {"a": 10.0, "b": 10.0})
    assert ran == ["a", "b", "c", "b"]
    assert res["b"]["sec"] == 12.0 and res["b"]["attempts"] == [25.0, 12.0]
    assert res["b"]["remeasured"] and res["b"]["wall_sec"] == 12.0
    assert fence_row_outcome(res["b"]["sec"], 10.0) == "ok"
    assert res["c"]["attempts"] == [99.0] and not res["c"]["remeasured"]
    # a slower re-measure never replaces the faster first time
    res, _ = _measure({"b": [25.0, 30.0]}, {"b": 10.0})
    assert res["b"]["sec"] == 25.0 and res["b"]["attempts"] == [25.0, 30.0]


def test_measure_rows_reproduced_violation():
    # over 2x on both measurements: a violation with exactly two
    # attempts — one re-measure, no further retries or waits
    res, ran = _measure({"b": [25.0, 24.0]}, {"b": 10.0})
    assert ran == ["b", "b"] and res["b"]["attempts"] == [25.0, 24.0]
    assert fence_row_outcome(res["b"]["sec"], 10.0) == "violation"
    # a failed re-measure keeps the valid first measurement
    res, _ = _measure({"b": [25.0, "fail", "fail"]}, {"b": 10.0})
    assert res["b"]["sec"] == 25.0
    assert res["b"]["attempts"] == [25.0, -1.0, -1.0]
    # steal adjustment decides the fence: 30 s of wall time at 50 %
    # steal is 15 s of work, inside the 2x guard, so no re-measure
    res, _ = _measure({"b": [30.0]}, {"b": 10.0}, steal=0.5)
    assert res["b"]["sec"] == 15.0 and not res["b"]["remeasured"]


def _memo_run(host, script, memo_at_start):
    """A fake ML row: records the memo it starts from, then memoizes
    its own models and spends its next scripted wall seconds."""

    def run(name, timer):
        memo_at_start.append((name, set(queries._ML_CACHE)))
        queries._ML_CACHE[name] = "models"
        with timer.measure():
            host.spend(script[name].pop(0), 0.0)
        return 3

    return run


def test_measure_rows_remeasures_in_first_memo_state(monkeypatch):
    # a re-measure starts from the ML memo its first measurement saw:
    # the training row found it empty, so it trains cold again ...
    monkeypatch.setattr(queries, "_ML_CACHE", {})
    host, seen = _Host(), []
    res = measure_rows(["ml_train_rmse"],
                       _memo_run(host, {"ml_train_rmse": [25.0, 24.0]}, seen),
                       {"ml_train_rmse": 10.0}, cpu=host.cpu, clock=host.clock)
    assert seen == [("ml_train_rmse", set())] * 2
    assert fence_row_outcome(res["ml_train_rmse"]["sec"], 10.0) == "violation"
    # ... while a memo reader that read over 2x once is re-measured warm,
    # as it first ran, and reads clean; models memoized after its first
    # measurement (its own, a later row's) are dropped first
    monkeypatch.setattr(queries, "_ML_CACHE", {})
    host, seen = _Host(), []
    script = {"ml_train_rmse": [9.0], "ml_score_topk": [25.0, 8.0],
              "ml_zz": [1.0]}
    res = measure_rows(list(script), _memo_run(host, script, seen),
                       dict.fromkeys(script, 10.0), cpu=host.cpu,
                       clock=host.clock)
    assert seen == [("ml_train_rmse", set()),
                    ("ml_score_topk", {"ml_train_rmse"}),
                    ("ml_zz", {"ml_train_rmse", "ml_score_topk"}),
                    ("ml_score_topk", {"ml_train_rmse"})]
    assert res["ml_score_topk"]["attempts"] == [25.0, 8.0]
    assert fence_row_outcome(res["ml_score_topk"]["sec"], 10.0) == "ok"


def test_steal_changes_neither_probe_factor_nor_row_ratio(spark):
    # the host probe is timed by the same steal-adjusted Timer as the
    # rows: steal on the host neither raises the reference (anchor x
    # probe factor) nor is corrected twice in a row's ratio
    work = {2_000_000: 0.23, 200_000: 0.26}  # twice ANCHOR_PROBE's sum

    def factor_and_ratio(steal):
        host = _Host()

        class _Frame:  # spark.range(n).select(...).filter(...).count()
            def __init__(self, n):
                self.n = n

            def select(self, *_):
                return self

            filter = select

            def count(self):
                host.spend(work[self.n] / (1 - steal), steal)
                return self.n

        probe = host_probe(types.SimpleNamespace(range=_Frame),
                           cpu=host.cpu, clock=host.clock)
        assert probe == {"md5_2m_sec": 0.23, "regex_200k_sec": 0.26}
        factor = anchor_factors(probe)["anchor_probe_factor"]
        res, _ = _measure({"a": [3.0 / (1 - steal)]}, {"a": 2.0 * factor},
                          steal=steal)
        return factor, res["a"]["sec"] / (2.0 * factor)

    assert factor_and_ratio(0.0) == factor_and_ratio(0.5) == (2.0, 0.75)


def _perfbench_worker(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "perfbench_worker", os.path.join(REPO, "perfbench", "worker.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_timer_matches_perfbench_timer(monkeypatch):
    # bench_common.Timer is a deliberate copy of perfbench's: one tick
    # and clock sequence fed to both must give the same run_s
    ticks = [(100, 0), (400, 100), (500, 100), (600, 400)]
    clock = [1.0, 4.0, 10.0, 12.5]
    worker = _perfbench_worker(monkeypatch)
    feed = iter(ticks)
    monkeypatch.setattr(worker, "host_cpu", lambda: next(feed))
    feed_clock = iter(clock)
    monkeypatch.setattr(worker, "time",
                        types.SimpleNamespace(perf_counter=lambda: next(feed_clock)))
    theirs = worker.Timer()
    mine = Timer(cpu=iter(ticks).__next__, clock=iter(clock).__next__)
    for timer in (theirs, mine):
        for _ in range(2):
            with timer.measure():
                pass
    assert mine.run_s == theirs.run_s
    assert mine.wall_s == theirs.wall_s == 5.5
    assert mine.steal_frac == theirs.to_json()["steal_frac"]
    # 400 busy and 400 stolen ticks over the two regions: half of 5.5 s
    assert mine.run_s == 2.75


def test_anchor_factors_flags_clamp_saturation(capsys):
    lo, hi = PROBE_FACTOR_BOUNDS

    def probe(f):
        return {k: v * f for k, v in ANCHOR_PROBE.items()}

    inside = anchor_factors(probe(1.2))
    assert inside == {"anchor_probe_factor": 1.2,
                      "anchor_probe_factor_raw": 1.2,
                      "anchor_probe_clamped": False}
    assert "WARNING" not in capsys.readouterr().err
    slow = anchor_factors(probe(hi * 1.5))
    assert slow["anchor_probe_factor"] == hi and slow["anchor_probe_clamped"]
    assert "clamped" in capsys.readouterr().err
    assert anchor_factors(probe(lo / 2))["anchor_probe_clamped"]
    # a failed probe falls back to factor 1 and is no saturation
    assert anchor_factors(None) == {"anchor_probe_factor": 1.0,
                                    "anchor_probe_factor_raw": None,
                                    "anchor_probe_clamped": False}


def test_fence_row_outcome_violations_only():
    ref = 10.0
    assert fence_row_outcome(19.9, ref) == "ok"
    assert fence_row_outcome(20.0, ref) == "ok"
    assert fence_row_outcome(20.1, ref) == "violation"
    # a failed measurement is always a violation
    assert fence_row_outcome(-1.0, ref) == "violation"


def test_fence_exit_code_is_0_clean_2_violating():
    assert fence_exit_code({"violations_2x": []}) == 0
    assert fence_exit_code({"violations_2x": ["q"]}) == 2
    assert fence_run_is_clean({"violations_2x": []})
    assert not fence_run_is_clean({"violations_2x": ["q"]})


def test_write_decision_refuses_to_overwrite_clean_artifact():
    violating = {"violations_2x": ["part_pagerank"], "panel": "active"}
    clean_committed = {"violations_2x": [], "panel": "active"}
    fname, reason = fence_write_decision(violating, clean_committed)
    assert fname == "BENCH_sf1_VIOLATING.json"
    assert reason and "part_pagerank" in reason


def test_write_decision_allows_clean_and_unguarded_writes():
    clean_run = {"violations_2x": [], "panel": "active"}
    violating = {"violations_2x": ["x"], "panel": "active"}
    clean_committed = {"violations_2x": []}
    dirty_committed = {"violations_2x": ["y"]}
    # clean run always writes the real artifact
    assert fence_write_decision(clean_run, clean_committed) == (
        "BENCH_sf1.json", None)
    assert fence_write_decision(clean_run, None) == ("BENCH_sf1.json", None)
    # violating over violating: no clean state destroyed
    assert fence_write_decision(violating, dirty_committed) == (
        "BENCH_sf1.json", None)
    # no committed artifact at all: nothing to protect
    assert fence_write_decision(violating, None) == ("BENCH_sf1.json", None)


def test_row_runner_puts_every_row_job_in_its_group(spark):
    from recommendation_translation_spark.session import (
        inherit_local_properties,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    name = "job_group_probe_row"
    pooled = []

    def row(spark, sf_dir):
        spark.range(10).count()
        worker = threading.Thread(target=inherit_local_properties(
            sc, lambda: pooled.append(spark.range(5).collect())))
        worker.start()
        worker.join(timeout=120)
        assert not worker.is_alive()
        return spark.range(3)

    ungrouped = set(tracker.getJobIdsForGroup())
    timer = Timer()
    assert row_runner(spark, "unused", {name: row})(name, timer) == 3
    assert len(pooled) == 1 and len(pooled[0]) == 5 and timer.wall_s > 0
    grouped = set(tracker.getJobIdsForGroup(name))
    # build job + the pool thread's job + the count
    assert len(grouped) >= 3
    # no job of the row escaped its group (<=: the status store may
    # drop old finished jobs past spark.ui.retainedJobs meanwhile)
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
    # and the group is cleared afterwards
    spark.range(4).count()
    assert set(tracker.getJobIdsForGroup()) - ungrouped
    assert set(tracker.getJobIdsForGroup(name)) <= grouped


def test_gumbel_noise_matches_reference_formula(spark):
    # the resample op's Gumbel noise must be exactly the documented
    # pure function of doc_id — pin the Spark expression against a
    # stdlib reference so a refactor cannot silently change the draw
    # (the DuckDB oracle replays the same formula)
    import hashlib
    import math

    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.text import (
        cross_engine_hash,
    )

    ids = [0, 1, 7, 123456789, 2**40]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    u = (
        cross_engine_hash(F.col("doc_id").cast("string"), seed="gumbel")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", F.round(-F.log(-F.log(u)), 6).alias("g")
        ).collect()
    }
    for i in ids:
        h = int(hashlib.md5(f"gumbel:{i}".encode()).hexdigest()[:8], 16)
        uu = (h + 0.5) / 2**32
        assert got[i] == round(-math.log(-math.log(uu)), 6), i
