"""Spans recorded around the benchmark's calls into each layer, and the
per-request Spark metrics read back from Spark's own event log.

Spans stay in memory; the run summarizes them once, when it ends. Every
request runs under its own Spark job group, so the request, its spans
and its jobs/stages share one identifier.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

PYTHON_NODES = ("ArrowEvalPython", "MapInArrow", "FlatMapCoGroupsInPandas", "MapInPandas")


class Tracer:
    """Records (request, layer, start, end) spans; a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, str, float, float]] = []
        self.request: str | None = None

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((self.request, layer, t0, time.time()))

    def span_cost_s(self, n: int = 10_000) -> float:
        """Cost of one span, timed on a throwaway tracer."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def layer_totals(self, request: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for req, layer, t0, t1 in self.spans:
            if req == request:
                out[layer] = out.get(layer, 0.0) + (t1 - t0)
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_rows(event_dir: str, walls: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and their summed task metrics.

    ``walls`` maps each request's job group to its (start, end) epoch
    seconds; ``driver_only_s`` is that wall minus the union of the
    group's job spans."""
    (name,) = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    stage_submit: dict[int, float] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    rows: dict[str, dict] = {
        g: {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
            "python_stage_run_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_records": 0,
            "task_wait_s": 0.0, "job_spans": [],
        }
        for g in walls
    }
    with open(os.path.join(event_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in rows:
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                    rows[g]["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                g = job_group[ev["Job ID"]]
                rows[g]["job_spans"].append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stage_submit[sid] = info.get("Submission Time", 0) / 1000
                scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info.get("RDD Info", []))
                stage_python[sid] = any(n in scopes for n in PYTHON_NODES)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                r = rows[g]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                r["stages"].add(ev["Stage ID"])
                r["tasks"] += 1
                r["failed_tasks"] += bool(info.get("Failed"))
                run_s = m.get("Executor Run Time", 0) / 1000
                r["executor_run_s"] += run_s
                r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                r["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000
                if stage_python.get(ev["Stage ID"]):
                    r["python_stage_run_s"] += run_s
                sr = m.get("Shuffle Read Metrics") or {}
                r["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
                r["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                r["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                r["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                sub = stage_submit.get(ev["Stage ID"])
                if sub:
                    r["task_wait_s"] += max(info["Launch Time"] / 1000 - sub, 0.0)
    for g, r in rows.items():
        r["stages"] = len(r["stages"])
        a, b = walls[g]
        spans = [(max(s, a), min(e, b)) for s, e in r.pop("job_spans") if e > a and s < b]
        r["driver_only_s"] = (b - a) - _union_s(spans)
    return rows
