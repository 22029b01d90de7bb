"""Tracing for the benchmark's traced runs.

Three pieces, all outside the program's own code:

- ``SpanRecorder`` opens a span around calls into the program's public
  functions (``wrap``) or around a block (``span``).  A span has a name,
  a start and end wall-clock time, its parent span and the py4j round
  trips made while it was the innermost open span.
- ``count_py4j`` wraps ``GatewayClient.send_command`` in this process,
  so every Python → JVM round trip is charged to the innermost open span.
- ``parse_event_log`` reads Spark's uncompressed JSON event log, and
  ``attribute_jobs`` gives each Spark job to the innermost span that was
  open when the job was submitted.

Lazy builders return before any data moves: their span holds build time
only, and the jobs that execute their plan land on the span of the action
that runs it (a writer, a ``count``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float | None = None
    py4j_calls: int = 0
    counts: dict = field(default_factory=dict)


class SpanRecorder:
    """Spans kept in memory, in the order they were opened.

    Spans nest on one stack: the program's thread pools submit work while
    the caller's span is open, so their py4j calls are charged to it.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.py4j_total = 0
        self.py4j_unattributed = 0

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), parent))
            idx = len(self.spans) - 1
            self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            with self._lock:
                self.spans[idx].end = time.time()
                self._stack.remove(idx)

    def charge_py4j(self) -> None:
        with self._lock:
            self.py4j_total += 1
            if self._stack:
                self.spans[self._stack[-1]].py4j_calls += 1
            else:
                self.py4j_unattributed += 1

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper.

        ``on_call(span, args, kwargs, result)`` may add counts to the span
        after the call returns.
        """
        original = getattr(module, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, result)
                return result

        setattr(module, attr, spanned)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "py4j_calls": s.py4j_calls, "counts": s.counts}
            for s in self.spans
        ]


def count_py4j(recorder: SpanRecorder) -> None:
    """Charge every py4j client round trip in this process to ``recorder``."""
    from py4j.java_gateway import GatewayClient

    original = GatewayClient.send_command

    @functools.wraps(original)
    def counted(self, *args, **kwargs):
        recorder.charge_py4j()
        return original(self, *args, **kwargs)

    GatewayClient.send_command = counted


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other; their covered time is the union of
    their intervals clipped to the parent.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


# --------------------------------------------------------------------------
# Spark event log


def event_log_files(log_dir: str) -> list[str]:
    """The event files of every application logged under ``log_dir``.

    A rolling log is a directory ``eventlog_v2_<app>`` of
    ``events_<n>_<app>`` files; a plain log is one file per application.
    """
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.startswith(".") and not entry.endswith(".inprogress"):
            files.append(path)
    return files


def parse_event_log(paths: list[str]) -> dict:
    """Jobs with their stages, and tasks with their metrics, in ms and bytes."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "job_id": ev["Job ID"],
                        "submit_ms": ev["Submission Time"],
                        "stage_ids": list(ev.get("Stage IDs", [])),
                        "end_ms": None,
                        "result": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end_ms"] = ev.get("Completion Time")
                        job["result"] = ev.get("Job Result", {}).get("Result")
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage_id": ev["Stage ID"],
                        "launch_ms": info.get("Launch Time"),
                        "finish_ms": info.get("Finish Time"),
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_write_bytes": shuffle.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    # A stage runs in the first job that lists it; later jobs that list
    # it reuse its shuffle output and skip it.
    stage_job: dict[int, int] = {}
    for job_id in sorted(jobs):
        for sid in jobs[job_id]["stage_ids"]:
            stage_job.setdefault(sid, job_id)
    for t in tasks:
        t["job_id"] = stage_job.get(t["stage_id"])
    return {"jobs": [jobs[j] for j in sorted(jobs)], "tasks": tasks}


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, int | None]:
    """Job id → index of the innermost span open at its submission.

    Span times are seconds and event-log times are milliseconds of the
    same wall clock; span bounds are widened to whole milliseconds.
    """
    out: dict[int, int | None] = {}
    for job in jobs:
        t = job["submit_ms"]
        best = None
        for i, s in enumerate(spans):
            if int(s["start"] * 1000) <= t <= int(s["end"] * 1000) + 1:
                if best is None or s["start"] >= spans[best]["start"]:
                    best = i
        out[job["job_id"]] = best
    return out


def span_job_stats(spans: list[dict], log: dict) -> list[dict]:
    """Per span: the jobs attributed to it and their tasks' totals."""
    owner = attribute_jobs(spans, log["jobs"])
    stats = [
        {"jobs": 0, "tasks": 0, "task_ms": [], "shuffle_write_bytes": 0,
         "spill_bytes": 0}
        for _ in spans
    ]
    for job_id, idx in owner.items():
        if idx is not None:
            stats[idx]["jobs"] += 1
    for t in log["tasks"]:
        idx = owner.get(t["job_id"])
        if idx is None:
            continue
        st = stats[idx]
        st["tasks"] += 1
        st["task_ms"].append(t["run_ms"])
        st["shuffle_write_bytes"] += t["shuffle_write_bytes"]
        st["spill_bytes"] += t["spill_bytes"]
    for st in stats:
        ms = st.pop("task_ms")
        st["task_s"] = sum(ms) / 1000.0
        med = statistics.median(ms) if ms else 0
        st["task_skew"] = max(ms) / med if med else 0.0
    return stats


def attributed_fraction(spans: list[dict], jobs: list[dict]) -> float:
    owner = attribute_jobs(spans, jobs)
    if not owner:
        return 1.0
    return sum(1 for v in owner.values() if v is not None) / len(owner)
