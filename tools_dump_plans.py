#!/usr/bin/env python
"""Regenerate PLANS.md: the simple-mode physical plan of every catalog
query at sf0.001.  The enforceable plan contract lives in
tests/test_plan_quality.py; this dump is the human-auditable twin.

Usage: ``python tools_dump_plans.py [OUT [SF_DIR]]`` (default
``PLANS.md`` in the repo root and the test suite's sf0.001).  After
the dump of every query, the rows that consult the collapse dial
(``sources.readers.collapse_dial``) are dumped again with the dial
forced on, the way their collapse-branch parity test forces it, so
both branches of the dial have a recorded plan.  Plans
are normalized — expression ids (``#123L``), ``plan_id=N`` and
``/tmp/...`` paths stripped, lambda variables renumbered per plan — so
two checkouts' dumps, taken on the same host with the same
``SPARK_GRAFT_CPUS``, can be diffed.  The code imported is the
checkout this script lives in."""

from __future__ import annotations

import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT]
# Spark's Python workers (q_pysource_scan's data source) import the
# package too; they see PYTHONPATH, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from recommendation_translation_spark.catalog import corpus, dedup, text  # noqa: E402
from recommendation_translation_spark.plans.checks import physical_plan  # noqa: E402
from recommendation_translation_spark.queries import QUERIES  # noqa: E402
from recommendation_translation_spark.session import get_spark  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402

# single source of truth for "materializes work at DataFrame-build
# time" — shared with the catalog-wide plan audit
from tests.test_plan_quality import _BUILD_HEAVY as HEAVY  # noqa: E402
from tests.test_oracle_parity import COLLAPSE_CONSUMERS  # noqa: E402

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


def _plan(spark, name: str, sf: str) -> list[str]:
    """``name``'s normalized plan as fenced PLANS.md lines."""
    plan = normalized(physical_plan(QUERIES[name](spark, sf), mode="simple"))
    spark.catalog.clearCache()
    return ["```", plan, "```", ""]


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
    for name in sorted(QUERIES):
        out.append(f"## {name}")
        if name in HEAVY:
            out.append("_(streaming/ML — plan exercised by its dedicated tests)_\n")
            continue
        out += _plan(spark, name, sf)
    out += [
        "# Collapse branch — the collapse dial forced on", "",
        "No test scale crosses the dial's row gate; these are the plans",
        "the rows above take on a large duplicated corpus.", "",
    ]
    with pytest.MonkeyPatch.context() as mp:
        for module in (corpus, dedup, text):
            mp.setattr(module, "collapse_dial", lambda spark, sf_dir: True)
        for name in COLLAPSE_CONSUMERS:
            out.append(f"## {name} (collapse)")
            out += _plan(spark, name, sf)
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
