#!/usr/bin/env python
"""sf1 regression fence: the expensive panel at sf1, measured by the
same rule as bench.py, with a 2x guard.

- data: ``tools_gen_scale_data.py`` tiles /root/testdata/sf0.1 to sf1
  (run it first; default location /tmp/scaledata/sf1);
- measurement: the shared warmup and host probe, then
  ``bench_common.measure_rows`` over the panel: each row's build plus
  ``count()``, timed steal-adjusted (wall time scaled by the share of
  CPU the host's hypervisor did not steal), a failed attempt retried
  once; a row over 2x its reference is re-measured once at the end of
  the pass, from the ML memo state its first measurement saw, and the
  lower time is kept.  Every attempt's time is recorded under
  ``attempts``;
- reference: the row's anchor in ``BENCH_SF1_BASELINE.json`` x the
  clamped probe factor against the file's ``anchor_probe``.  A row
  still over 2x its reference, a failed row and a panel row missing
  from the catalog are FENCE VIOLATIONS, listed in ``violations_2x``
  and on stderr; the process then exits 2 (0 when clean);
- output: ``BENCH_sf1.json`` at the repo root.  ARTIFACT GUARD: a run
  with violations may not replace a committed artifact without any —
  it lands in ``BENCH_sf1_VIOLATING.json`` for triage instead.  A
  deliberate regression is recorded by re-anchoring
  ``BENCH_SF1_BASELINE.json``, after which the run is clean.

Panel policy (SCALE.md "sf1 fence panel policy"): the default run
covers the ACTIVE panel (``queries`` in the baseline file); rows that
measured <= 1.0x their anchor in 3 consecutive committed fence runs
live under ``retired`` and run only in the quarterly FULL fence —
``--full`` merges them back in (a retired row violating 2x there is
reinstated).

Usage: python tools_bench_sf1.py [--full] [sf1_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/scaledata/sf1"
    if not os.path.isdir(sf_dir):
        print(f"missing {sf_dir}: run tools_gen_scale_data.py first",
              file=sys.stderr)
        return 1
    with open(os.path.join(REPO, "BENCH_SF1_BASELINE.json")) as fh:
        _b = json.load(fh)
    baseline = dict(_b["queries"])
    if full:
        baseline.update(_b.get("retired", {}))

    from recommendation_translation_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench_sf1")
    from recommendation_translation_spark.bench_common import (
        Timer,
        anchor_factors,
        fence_exit_code,
        fence_row_outcome,
        fence_write_decision,
        host_probe,
        measure_rows,
        row_order,
        row_runner,
        warmup,
    )

    # the same warmup as bench.py: the probe is only comparable across
    # harnesses when measured in the identical context
    warmup(spark, sf_dir)
    probe = host_probe(spark)
    factors = anchor_factors(probe, _b.get("anchor_probe"))

    qmap = entry_mod.queries()
    missing = sorted(n for n in baseline if n not in qmap)
    for name in missing:
        print(f"# panel query {name} missing from catalog", file=sys.stderr)
    names = row_order(n for n in baseline if n in qmap)
    reference = {
        n: baseline[n] * factors["anchor_probe_factor"] for n in names
    }
    loop = Timer()
    with loop.measure():
        rows = measure_rows(names, row_runner(spark, sf_dir, qmap), reference)
    timings = {n: rows[n]["sec"] for n in names}
    timings.update((n, -1.0) for n in missing)
    violations = sorted(
        n for n, t in timings.items()
        if fence_row_outcome(t, reference.get(n, 0.0)) == "violation"
    )
    for name in violations:
        print(f"# VIOLATION {name}: {timings[name]}s against ref "
              f"{round(reference.get(name, 0.0), 2)}s (anchor "
              f"{baseline[name]} x {factors['anchor_probe_factor']}), "
              f"attempts {rows.get(name, {}).get('attempts')}",
              file=sys.stderr)

    ok = [rows[n] for n in names if rows[n]["sec"] > 0]
    out = {
        "sf": 1.0,
        "schema_version": 5,
        "panel": "full" if full else "active",
        "sum_query_sec": round(sum(r["sec"] for r in ok), 2),
        "sum_query_wall_sec": round(sum(r["wall_sec"] for r in ok), 2),
        "steal_frac": round(loop.steal_frac, 3),
        "queries": timings,
        "attempts": {n: rows[n]["attempts"] for n in names},
        "host_probe": probe,
        **factors,
        "remeasured": sorted(n for n in names if rows[n]["remeasured"]),
        "violations_2x": violations,
        "violations_2x_raw": sorted(
            n for n, t in timings.items()
            if fence_row_outcome(t, baseline[n]) == "violation"
        ),
    }
    committed = None
    try:
        with open(os.path.join(REPO, "BENCH_sf1.json")) as fh:
            committed = json.load(fh)
    except (OSError, ValueError):
        pass
    fname, refusal = fence_write_decision(out, committed)
    if refusal:
        print(f"# ARTIFACT GUARD: {refusal}", file=sys.stderr)
        out["artifact_guard"] = refusal
    with open(os.path.join(REPO, fname), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))
    return fence_exit_code(out)


if __name__ == "__main__":
    sys.exit(main())
