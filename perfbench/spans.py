"""Spans around the benchmark's calls into each layer, and attribution of
Spark's per-task metrics to them.

A span records name, start, end, parent span and a run id (the pass it
belongs to). Spans stay in memory and are written out once, when the run
ends. While a span is open it is the Spark job description of the calling
thread, so the event log (enabled in traced runs only) ties every job to
the span that submitted it; jobs submitted from other threads, such as a
streaming query's micro-batches, go to the innermost span open when they
started.

With tracing off the same calls run through a :class:`Tracer` that records
nothing and touches no Spark state.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from stats import self_times

_PREFIX = "bench-span:"


class Tracer:
    """Collects spans when ``enabled``; set ``spark`` to label Spark jobs."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = ""
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the enclosed call into a layer as span ``name``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "run": self.run_id,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobDescription(f"{_PREFIX}{s['id']}:{name}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(
                    f"{_PREFIX}{parent['id']}:{parent['name']}" if parent else None
                )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time_report(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total duration and total self time."""
        own = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            r = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            r["n"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += own[s["id"]]
        return out


TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_records": ("Input Metrics", "Records Read"),
}


def _field(metrics: dict, path: tuple[str, ...]) -> int:
    v = metrics
    for k in path:
        v = v.get(k, {}) if isinstance(v, dict) else {}
    return v if isinstance(v, int) else 0


def attribute_event_log(log_dir: str, spans: list[dict]) -> dict[int, dict[str, int]]:
    """Sum each span's task metrics from the Spark event log in
    ``log_dir``; returns span id -> {metric: total}."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    per_stage: dict[int, dict[str, int]] = {}
    # rolling logs (the Spark 4 default) are a directory of event files
    paths = glob.glob(f"{log_dir}/*") + glob.glob(f"{log_dir}/*/events_*")
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith(_PREFIX):
                        job_span[job] = int(desc[len(_PREFIX):].split(":", 1)[0])
                    else:
                        job_span[job] = _innermost(spans, ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per_stage.setdefault(ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                    for key, path in TASK_FIELDS.items():
                        acc[key] += _field(m, path)
    out: dict[int, dict[str, int]] = {}
    for stage, acc in per_stage.items():
        span = job_span.get(stage_job.get(stage, -1))
        if span is None:
            continue
        tot = out.setdefault(span, dict.fromkeys(TASK_FIELDS, 0))
        for k, v in acc.items():
            tot[k] += v
    return out


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
            best = s
    return best["id"] if best else None


def rollup(spans: list[dict], per_span: dict[int, dict[str, int]], name_prefix: str) -> dict[str, int]:
    """Sum attributed task metrics over spans whose name starts with
    ``name_prefix``, including their descendants."""
    parent = {s["id"]: s["parent"] for s in spans}
    names = {s["id"]: s["name"] for s in spans}
    tot = dict.fromkeys(TASK_FIELDS, 0)
    for sid, acc in per_span.items():
        cur = sid
        while cur is not None and not names[cur].startswith(name_prefix):
            cur = parent[cur]
        if cur is not None:
            for k, v in acc.items():
                tot[k] += v
    return tot
