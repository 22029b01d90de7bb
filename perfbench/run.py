"""Benchmark for the translation pipeline and the heavy catalog rows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The command generates the workload's
inputs from the seed, runs the program on them in fresh driver processes
(``perfbench/worker.py``), checks the outputs, prints every metric by
name with its unit, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (medians over the
repetitions that fit in ``--seconds``).  With ``--trace 1`` it makes one
untraced and one traced run and reports the per-layer metrics of the
traced one; ``trace.overhead_s`` is their difference in ``job_s``.

Workloads:

- ``translate_full``: all four stages through ``cli.main`` from a combined
  TSV; every site is a target.  One fresh driver process per job.
- ``translate_wide``: parse + extract-features only, from split sitelinks
  and pagecounts files, many sites wide.  One fresh process per job.
- ``catalog_heavy``: four builder-bound catalog rows in one session,
  after an untimed warm pass that also checks them against their DuckDB
  oracles; each timed pass builds every row and counts it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from layers import CATALOG_ROWS  # noqa: E402
from worker import dir_bytes  # noqa: E402

WORKLOADS = {
    "translate_full": {"kind": "translate", "items": 2000, "sites": 4, "split": False,
                       "stages": ["--parse-raw-data", "--extract-features",
                                  "--build-models", "--score-items"]},
    "translate_wide": {"kind": "translate", "items": 1500, "sites": 150, "split": True,
                       "stages": ["--parse-raw-data", "--extract-features"]},
    "catalog_heavy": {"kind": "catalog", "sf": 0.005, "rows": CATALOG_ROWS},
}

#: Driver memory for every run: explicit, because the session default
#: (48g) is larger than small hosts have.
DRIVER_MEMORY = "2g"
#: A run that has not finished by then stops its worker and fails.
RUN_DEADLINE_S = 175


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def environment(work: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    })
    return env


def _stop_on_signal(proc: subprocess.Popen):
    """SIGTERM, SIGINT and the deadline's SIGALRM end the worker's whole
    process group, then this run."""
    def handler(signum, frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, handler)


def run_worker(spec: dict, work: str) -> dict | None:
    """Run one job in a fresh process group; None if it failed."""
    os.makedirs(work, exist_ok=True)
    spec = dict(spec, work=work, result=os.path.join(work, "result.json"))
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
        cwd=ROOT, env=environment(work), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    _stop_on_signal(proc)
    try:
        rc = proc.wait()
    finally:
        # the worker's JVM and Python daemons share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not os.path.exists(spec["result"]):
        log(f"worker failed (exit {rc})")
        return None
    with open(spec["result"]) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# translate


def translate_reps(cfg: dict, seed: int, seconds: float, trace: bool, work: str):
    import gen

    inputs = gen.write_translate_inputs(os.path.join(work, "inputs"), seed,
                                        cfg["items"], cfg["sites"])
    split_in = ["--raw-sitelinks", inputs["sitelinks"],
                "--raw-pagecounts", inputs["pagecounts"]]
    argv_in = split_in if cfg["split"] else ["--raw-data", inputs["raw_data"]]
    truth = Truth(inputs)

    reps, attempted, failed = [], 0, 0
    plan = [False, True] if trace else None
    t0 = time.perf_counter()
    while (plan is not None and len(reps) < len(plan)) or (
            plan is None and (not reps or time.perf_counter() - t0 < seconds)):
        traced = bool(plan and plan[len(reps)])
        rep_work = os.path.join(work, f"rep{len(reps)}")
        out = os.path.join(rep_work, "out")
        jobs = [(out, cfg["stages"] + argv_in)]
        if traced and not cfg["split"]:
            # the traced run also times the split-input readers, after
            # its timed job
            jobs.append((os.path.join(rep_work, "extra"),
                         ["--parse-raw-data", "--extract-features"] + split_in))
        argvs = [argv + ["--output-dir", o, "--seed", str(seed)] for o, argv in jobs]
        spec = {"mode": "translate", "trace": traced, "argv": argvs[0],
                "extra_argv": argvs[1] if len(argvs) > 1 else None}
        res = run_worker(spec, rep_work)
        ops = sum(truth.operations(argv) for argv in argvs)
        attempted += ops
        if res is None or res["rc"] != 0:
            failed += ops
            reps.append(None)
            continue
        bad = sum(truth.failures(o, argv) for (o, _), argv in zip(jobs, argvs))
        failed += bad
        res["artifact_bytes"] = dir_bytes(out)
        res["traced"] = traced
        res["event_log"] = os.path.join(rep_work, "eventlog") if traced else None
        reps.append(res)
        for o, _ in jobs:
            shutil.rmtree(o, ignore_errors=True)
        log(f"rep {len(reps) - 1}: job={res['job']} setup={res['setup']} "
            f"bad_ops={bad}")
    return reps, attempted, failed


class Truth:
    """DuckDB recomputations of the generated inputs, one per input form,
    and the output checks of one CLI run against them."""

    FORMS = {"--raw-data": ("raw_data",), "--raw-sitelinks": ("sitelinks", "pagecounts")}

    def __init__(self, inputs: dict[str, str]) -> None:
        import check

        self.inputs = inputs
        self.cons: dict = {}
        self.sites = check.truth_sites(self.con(["--raw-data"]))

    def con(self, argv: list[str]):
        """The connection holding the truth for ``argv``'s input form."""
        import check
        import duckdb

        form = "--raw-data" if "--raw-data" in argv else "--raw-sitelinks"
        if form not in self.cons:
            self.cons[form] = duckdb.connect()
            check.load_truth(self.cons[form], {k: self.inputs[k] for k in self.FORMS[form]})
        return self.cons[form]

    def operations(self, argv: list[str]) -> int:
        """A site's features, and with training its model and its scores."""
        return len(self.sites) * (3 if "--build-models" in argv else 1)

    def failures(self, out: str, argv: list[str]) -> int:
        import check

        con = self.con(argv)
        dirs = os.listdir(out) if os.path.isdir(out) else []
        if len(dirs) != 1:
            return self.operations(argv)
        run_dir = os.path.join(out, dirs[0])
        bad = len(check.check_features(con, os.path.join(run_dir, "feature-data")))
        if "--build-models" in argv:
            bad += len(check.check_models(os.path.join(run_dir, "models"), self.sites))
            bad += len(check.check_predictions(
                con, os.path.join(run_dir, "predictions"), self.sites))
        return bad


# --------------------------------------------------------------------------
# catalog


def catalog_reps(cfg: dict, seed: int, seconds: float, trace: bool, work: str):
    import gen

    data = gen.write_catalog_tables(os.path.join(work, "data"), seed, cfg["sf"])
    spec = {"mode": "catalog", "trace": trace, "rows": list(cfg["rows"]),
            "tables": list(gen.CATALOG_TABLES), "data_dir": data, "seconds": seconds}
    res = run_worker(spec, os.path.join(work, "session"))
    n_rows = len(cfg["rows"])
    if res is None:
        return [None], n_rows, n_rows
    for name, msg in res["checks"].items():
        if msg != "ok":
            log(f"check failed: {name}: {msg}")
    attempted = n_rows * len(res["pass_failures"])
    failed = sum(len(b) for b in res["pass_failures"])
    res["traced"] = trace
    res["event_log"] = os.path.join(work, "session", "eventlog") if trace else None
    log(f"passes: {res['passes']} setup={res['setup']}")
    return [res], attempted, failed


# --------------------------------------------------------------------------
# metrics


def end_to_end(reps: list[dict]) -> dict:
    def med(key, field=None):
        return statistics.median(r[key][field] if field else r[key] for r in reps)

    return {
        "job_s": {"value": med("job", "run_s"), "unit": "s"},
        "setup_s": {"value": med("setup", "run_s"), "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.alarm(RUN_DEADLINE_S)

    # the program under test lives beside this directory
    for needed in ("__spark_entry__.py", "recommendation_translation_spark/cli.py",
                   "tests/oracle_utils.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"error: {needed} not found under {ROOT}", file=sys.stderr)
            return 2

    cfg = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        reps_fn = translate_reps if cfg["kind"] == "translate" else catalog_reps
        reps, attempted, failed = reps_fn(cfg, args.seed, args.seconds,
                                          bool(args.trace), work)
        done = [r for r in reps if r is not None]
        if not done:
            print("error: no job completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics, sidecar = layers.per_layer(cfg["kind"], done)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(sidecar, fh, indent=1)
            log(f"trace written to {path}")
        else:
            metrics = end_to_end(done)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    frac = failed / attempted
    print(f"ops_failed_frac: {frac:.4f} ({failed}/{attempted} operations)")
    if cfg["kind"] == "translate":
        art = statistics.median(r["artifact_bytes"] for r in done)
        print(f"artifact_bytes: {art:.0f} bytes")
    wall = statistics.median(r["job"]["wall_s"] for r in done)
    steal = statistics.median(r["job"]["steal_frac"] for r in done)
    print(f"job_wall_s: {wall} s (share of CPU time stolen by the host: {steal:.3f})")
    # JVM heap sizing makes peak memory vary too much run to run to bound
    rss = statistics.median(r["peak_rss_mb"] for r in done)
    print(f"peak_rss_mb: {rss:.1f} MB")
    for name, m in metrics.items():
        print(f"{name}: {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
