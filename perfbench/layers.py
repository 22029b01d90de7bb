"""Per-layer metrics of a traced run.

Spans come from the worker (``tracing.SpanRecorder``), Spark jobs and
tasks from the run's event log.  Each metric is listed in ``METRICS``
with its unit; a layer the workload does not exercise reads 0.

Lazy builders (``normalized_rank``, ``pivot_features``, ``score_items``,
``assemble_predictions``, the catalog builders) record build time only:
the jobs that execute their plans land on the span of the action that
runs them (a writer, ``build_models``, a ``count``).
"""

from __future__ import annotations

import statistics

import tracing

CATALOG_ROWS = (
    "corpus_dedup_report", "orders_capped_balance", "dedup_incremental",
    "doc_bigram_perplexity",
)

_TRANSLATE = [
    ("pipeline.build_models.s", "s"),
    ("pipeline.build_models.jobs", "count"),
    ("pipeline.build_models.tasks", "count"),
    ("pipeline.build_models.task_s", "s"),
    ("pipeline.build_models.task_skew", "ratio"),
    ("pipeline.build_models.py4j_calls", "count"),
    ("pipeline.build_models.sites_failed", "count"),
    ("pipeline.score_items.s", "s"),
    ("pipeline.assemble_predictions.s", "s"),
    ("pipeline.score.sites_empty", "count"),
    ("sources.write_predictions_csv.s", "s"),
    ("sources.write_predictions_csv.tasks", "count"),
    ("sources.write_predictions_csv.bytes", "bytes"),
    ("operators.pivot_features.s", "s"),
    ("operators.pivot_features.py4j_calls", "count"),
    ("operators.normalized_rank.s", "s"),
    ("operators.normalized_rank.py4j_calls", "count"),
    ("sources.write_parquet.s", "s"),
    ("sources.write_parquet.jobs", "count"),
    ("sources.write_parquet.tasks", "count"),
    ("sources.write_parquet.task_s", "s"),
    ("sources.write_parquet.bytes", "bytes"),
    ("sources.read_raw_data_tsv.s", "s"),
    ("sources.read_sitelinks_tsv.s", "s"),
    ("sources.read_pagecounts.s", "s"),
    ("cli.run.self_s", "s"),
    ("cli.run.jobs", "count"),
]
_ROW_FIELDS = [("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
               ("exec_tasks", "count"), ("py4j_calls", "count"),
               ("shuffle_write_bytes", "bytes")]
_COMMON = [
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("session.get_spark.s", "s"),
    ("trace.jobs_attributed_frac", "ratio"),
    ("trace.overhead_s", "s"),
]

METRICS: list[tuple[str, str]] = (
    _TRANSLATE
    + [(f"queries.{row}.{f}", u) for row in CATALOG_ROWS for f, u in _ROW_FIELDS]
    + _COMMON
)


def _root(spans: list[dict], i: int) -> str:
    while spans[i]["parent"] is not None:
        i = spans[i]["parent"]
    return spans[i]["name"]


def _by_name(spans: list[dict], selfs: list[float], stats: list[dict]) -> dict:
    """Sum every span's figures under its name (a writer runs twice).

    A name seen inside the timed ``job`` span counts only there; the
    untimed ``extra_job`` adds the names the timed job never calls.
    """
    in_job = {s["name"] for i, s in enumerate(spans) if _root(spans, i) == "job"}
    out: dict[str, dict] = {}
    for i, (s, self_s, st) in enumerate(zip(spans, selfs, stats)):
        if s["name"] in in_job and _root(spans, i) == "extra_job":
            continue
        a = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "py4j_calls": 0,
                                       "jobs": 0, "tasks": 0, "task_s": 0.0,
                                       "task_skew": 0.0, "shuffle_write_bytes": 0,
                                       "spill_bytes": 0, "calls": 0})
        a["calls"] += 1
        a["s"] += s["end"] - s["start"]
        a["self_s"] += self_s
        a["py4j_calls"] += s["py4j_calls"]
        for k in ("jobs", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes"):
            a[k] += st[k]
        a["task_skew"] = max(a["task_skew"], st["task_skew"])
        for k, v in s["counts"].items():
            a[k] = a.get(k, 0) + v
    return out


def per_layer(kind: str, reps: list[dict]) -> tuple[dict, dict]:
    """(metrics, sidecar) for the traced repetition in ``reps``."""
    traced = next(r for r in reps if r["traced"])
    spans = traced["spans"]
    selfs = tracing.self_times(spans)
    log = tracing.parse_event_log(tracing.event_log_files(traced["event_log"]))
    stats = tracing.span_job_stats(spans, log)
    named = _by_name(spans, selfs, stats)
    empty = {"s": 0.0, "self_s": 0.0, "py4j_calls": 0, "jobs": 0, "tasks": 0,
             "task_s": 0.0, "task_skew": 0.0, "shuffle_write_bytes": 0,
             "spill_bytes": 0}

    def get(span: str) -> dict:
        return named.get(span, empty)

    values: dict[str, float] = {}
    for name, _ in _TRANSLATE:
        layer, field = name.rsplit(".", 1)
        if name == "pipeline.score.sites_empty":
            values[name] = get("pipeline.score_items").get("sites_empty", 0)
        else:
            values[name] = get(layer).get(field, 0)
    for row in CATALOG_ROWS:
        b, e = get(f"queries.{row}.build"), get(f"queries.{row}.exec")
        values.update({
            f"queries.{row}.build_s": b["s"],
            f"queries.{row}.exec_s": e["s"],
            f"queries.{row}.build_jobs": b["jobs"],
            f"queries.{row}.exec_tasks": e["tasks"],
            f"queries.{row}.py4j_calls": b["py4j_calls"],
            f"queries.{row}.shuffle_write_bytes":
                b["shuffle_write_bytes"] + e["shuffle_write_bytes"],
        })
    tasks = log["tasks"]
    if kind == "translate":
        untraced = statistics.median(r["job"]["run_s"] for r in reps if not r["traced"])
        overhead = traced["job"]["run_s"] - untraced
    else:
        overhead = traced["traced_job"]["run_s"] - traced["job"]["run_s"]
    values.update({
        "spark.jobs": len(log["jobs"]),
        "spark.tasks": len(tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "session.get_spark.s": get("session.get_spark")["s"],
        "trace.jobs_attributed_frac": tracing.attributed_fraction(spans, log["jobs"]),
        "trace.overhead_s": overhead,
    })
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in METRICS}
    sidecar = {
        "note": "lazy builders record build time only; the jobs that execute "
                "their plans are attributed to the span of the action that runs "
                "them. 'jobs'/'tasks' count jobs submitted while the span was the "
                "innermost open span.",
        "spans": [dict(s, self_s=x, **st) for s, x, st in zip(spans, selfs, stats)],
        "py4j_total": traced["py4j_total"],
        "metrics": metrics,
    }
    return metrics, sidecar
