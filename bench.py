#!/usr/bin/env python
"""Benchmark harness: runs the full declared query set (the same
``queries()`` map the driver smoke-checks) against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints two JSON lines, the full map

    {"metric": "sum_query_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "schema_version": 3}

and, last, a bounded summary line (``"summary_line": true``).

Usage: ``python bench.py [query ...]`` (a subset when names are given).

Rows are measured by the shared rule in
``recommendation_translation_spark/bench_common.py``, after the shared
untimed warmup and the host probe: each row's build plus ``count()``
(full plan execution, no driver-side collect of the payload), timed
steal-adjusted, a failed attempt retried once; at sf0.1 a row over 2x
its reference (its BASELINE.md anchor x the clamped probe factor) is
re-measured once at the end of the pass and the lower time kept.
Other scale factors have no anchors, so every row is measured once.

Schema v3: every row time is steal-adjusted — wall time scaled by the
share of CPU the host's hypervisor did not steal — so ``sum_query_sec``
reads what the rows take on an uncontended host;
``sum_query_wall_sec`` is the same sum in raw wall time, ``steal_frac``
the stolen share of the loop and ``loop_wall_sec`` the raw loop wall
clock including re-measures.  v2 row times were raw wall times, each
possibly the min of up to three runs under the earlier quiet-host
protocol; v1 sidecars called the sum ``total_wall_sec``.  Do not
compare sums across schema versions without noting the definitions.

A full-catalog sf0.1 run also writes the ``BENCH_QUERIES.json``
sidecar and compares every row with its anchor (probe-normalized and
raw ratios); subset runs and other scale factors skip both.
"""

from __future__ import annotations

import json
import os
import re
import sys

from recommendation_translation_spark.session import get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench")
    import __spark_entry__ as entry_mod
    from recommendation_translation_spark.bench_common import (
        Timer,
        anchor_factors,
        host_probe,
        measure_rows,
        row_order,
        row_runner,
        warmup,
    )

    # the host probe is context-sensitive: it must run after the same
    # warmup in every harness (see bench_common.warmup)
    warmup(spark, sf_dir)
    probe = host_probe(spark)
    factors = anchor_factors(probe)

    qmap = entry_mod.queries()
    only = sys.argv[1:]
    names = row_order(n for n in qmap if not only or n in only)
    base = _baseline_map() if sf == 0.1 else {}
    reference = {
        k: v * factors["anchor_probe_factor"] for k, v in base.items()
    }
    loop = Timer()
    with loop.measure():
        rows = measure_rows(names, row_runner(spark, sf_dir, qmap), reference)
    timings = {n: r["sec"] for n, r in rows.items()}
    reruns = sorted(n for n, r in rows.items() if r["remeasured"])
    ok = [r for r in rows.values() if r["sec"] > 0]
    total = round(sum(r["sec"] for r in ok), 3)
    total_wall = round(sum(r["wall_sec"] for r in ok), 3)
    loop_wall = round(loop.wall_s, 3)
    steal = round(loop.steal_frac, 3)

    # The anchors hold for the full catalog at sf0.1 only: a subset run
    # must not clobber the committed full map, and another scale factor
    # would report a wall of false over-2x flags
    full_sf01_run = not only and sf == 0.1
    if full_sf01_run:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_QUERIES.json"), "w") as fh:
            json.dump({"sum_query_sec": total,
                       "sum_query_wall_sec": total_wall,
                       "loop_wall_sec": loop_wall, "steal_frac": steal,
                       "schema_version": 3, "sf": sf,
                       "queries": timings, "remeasured": reruns,
                       "host_probe": probe, **factors},
                      fh, indent=1, sort_keys=True)
    # Full map first, for human runs; the ~6 KB map is past a 2,000-char
    # output-tail capture, so the bounded summary line prints LAST
    print(
        json.dumps(
            {
                "metric": "sum_query_sec",
                "value": total,
                "unit": "sec",
                "loop_wall_sec": loop_wall,
                "schema_version": 3,
                "queries": dict(sorted(timings.items())),
                "remeasured": reruns,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    summary = {
        "metric": "sum_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "schema_version": 4,
        "summary_line": True,
        "n_queries": len(timings),
        "n_failed": sum(1 for v in timings.values() if v < 0),
        "sum_query_wall_sec": total_wall,
        "loop_wall_sec": loop_wall,
        "steal_frac": steal,
        "n_remeasured": len(reruns),
        "host_probe": probe,
        "anchor_probe_clamped": factors["anchor_probe_clamped"],
    }
    if full_sf01_run:
        ratios = {
            k: round(v / base[k], 3)
            for k, v in timings.items()
            if v > 0 and base.get(k)
        }
        # the 2x fence judges the plan, not the machine: it uses the
        # probe-normalized ratio, the raw twins stay visible beside it
        ratios_norm = {
            k: round(r / factors["anchor_probe_factor"], 3)
            for k, r in ratios.items()
        }
        over_2x_raw = sorted(k for k, r in ratios.items() if r > 2.0)
        over_2x = sorted(k for k, r in ratios_norm.items() if r > 2.0)
        worst_raw = max(ratios, key=ratios.get) if ratios else None
        worst = max(ratios_norm, key=ratios_norm.get) if ratios_norm else None
        summary.update(
            {
                "n_with_baseline": len(ratios),
                **factors,
                "max_vs_baseline": ratios_norm.get(worst),
                "max_vs_baseline_query": worst,
                "max_vs_baseline_raw": ratios.get(worst_raw),
                "max_vs_baseline_raw_query": worst_raw,
                "n_over_2x": len(over_2x),
                "over_2x": over_2x[:10],
                "n_over_2x_raw": len(over_2x_raw),
                "full_map": "BENCH_QUERIES.json",
            }
        )
    else:
        summary["baseline_comparison"] = (
            "skipped: anchors are full-catalog sf0.1 runs"
        )
    print(json.dumps(summary, separators=(",", ":")))
    return 0


def _baseline_map() -> dict[str, float]:
    """Per-query BASELINE.md anchors: ``| name | sec | ...`` rows from
    the anchor tables ONLY — tables whose header row is
    ``| query | sec (sf0.1) | ...`` — FIRST occurrence winning (the
    anchor is the first recorded run; later tables re-list queries
    informationally).  Scoping to the anchor header (round-9 ADVICE
    #2) keeps a future non-anchor table (sf1 fence rows, published
    reference numbers, notes) from shadowing an anchor: parsing stops
    at the next markdown heading after each anchor table."""
    out: dict[str, float] = {}
    in_anchor = False
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BASELINE.md")) as fh:
            for line in fh:
                if line.startswith("#"):
                    in_anchor = False
                    continue
                if re.match(r"\|\s*query\s*\|\s*sec \(sf0\.1\)\s*\|", line):
                    in_anchor = True
                    continue
                if not in_anchor:
                    continue
                m = re.match(r"\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|", line)
                if m and m.group(1) not in out:
                    try:
                        v = float(m.group(2))
                    except ValueError:
                        continue
                    if v > 0:
                        out[m.group(1)] = v
    except OSError:
        pass
    return out


if __name__ == "__main__":
    sys.exit(main())
