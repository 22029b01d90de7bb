#!/usr/bin/env python
"""Regenerate PLANS.md: the simple-mode physical plan of every catalog
query at sf0.001.  The enforceable plan contract lives in
tests/test_plan_quality.py; this dump is the human-auditable twin.

Usage: ``python tools_dump_plans.py [OUT [SF_DIR]]`` (default
``PLANS.md`` in the repo root and the test suite's sf0.001).  Plans
are normalized — expression ids (``#123L``), ``plan_id=N`` and
``/tmp/...`` paths stripped, lambda variables renumbered per plan — so
two checkouts' dumps, taken on the same host with the same
``SPARK_GRAFT_CPUS``, can be diffed.  The code imported is the
checkout this script lives in."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT]
# Spark's Python workers (q_pysource_scan's data source) import the
# package too; they see PYTHONPATH, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from recommendation_translation_spark.plans.checks import physical_plan  # noqa: E402
from recommendation_translation_spark.queries import QUERIES  # noqa: E402
from recommendation_translation_spark.session import get_spark  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402

# single source of truth for "materializes work at DataFrame-build
# time" — shared with the catalog-wide plan audit
from tests.test_plan_quality import _BUILD_HEAVY as HEAVY  # noqa: E402

_RUN_SPECIFIC = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/…"),
]

# higher-order-function lambda variables (``lambda x_303#``) are named
# from a process-wide counter, so one more or fewer lambda anywhere
# earlier renames every later one
_LAMBDA_VAR = re.compile(r"(?<=lambda )([a-z]+)_\d+")


def normalized(plan: str) -> str:
    """``plan`` without the ids and scratch paths that differ per run,
    its lambda variables numbered in first-seen order."""
    for pat, repl in _RUN_SPECIFIC:
        plan = pat.sub(repl, plan)
    names: dict[str, str] = {}
    plan = _LAMBDA_VAR.sub(
        lambda m: names.setdefault(m[0], f"{m[1]}_{len(names)}"), plan
    )
    return plan.strip()


def main(out_path: str = os.path.join(ROOT, "PLANS.md"),
         sf: str = SF_SMALL) -> int:
    spark = get_spark(app_name="plans")
    out = [
        f"# PLANS — physical plan per query (simple mode, {os.path.basename(sf)})",
        "",
        "Generated by `python tools_dump_plans.py`.",
        "The plan-quality CONTRACT lives in tests/test_plan_quality.py;",
        "this is the human-auditable dump the tests pin. Streaming/ML",
        "queries materialize work at build time and are listed by name",
        "only (their plan properties are asserted in their tests).", "",
    ]
    for name, fn in sorted(QUERIES.items()):
        out.append(f"## {name}")
        if name in HEAVY:
            out.append("_(streaming/ML — plan exercised by its dedicated tests)_\n")
            continue
        out.append("```")
        out.append(normalized(physical_plan(fn(spark, sf), mode="simple")))
        out.append("```")
        out.append("")
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
