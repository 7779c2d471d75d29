"""Spans around the calls into each engine layer, folded with Spark's
per-task counters.

A :class:`Tracer` records one span per call the benchmark makes into
a layer: name, start, end, parent and run id. While a span is open the
Spark jobs it launches carry a job group named after the span, and
after the run :func:`fold_event_logs` reads Spark's event log and
charges each job's task counters (run time, GC, shuffle read/write,
spill, input/output records and bytes) to the span whose group it ran
under. Jobs that run under another group (a streaming query's
micro-batches) are charged to the innermost span open when they were
submitted.

With tracing off the tracer still records spans, for the self times
printed with every run, but sets no job group and no event log is
written, so the untraced run pays only a clock read per span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "tasks", "run_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b",
    "spill_b", "in_records", "in_bytes", "out_records", "out_bytes",
    "csv_tasks", "csv_task_ms", "out_job_ms",
)


class Tracer:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if not self.traced:
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{self.run_id}-{rec['id']}", rec["name"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "tasks": 1,
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "in_records": inp.get("Records Read", 0),
        "in_bytes": inp.get("Bytes Read", 0),
        "out_records": out.get("Records Written", 0),
        "out_bytes": out.get("Bytes Written", 0),
    }


def fold_event_logs(log_dir: str, tracer: Tracer) -> dict[int, dict]:
    """Charge every job in the event logs under ``log_dir`` to a span.

    Returns {span id: counters}, where a span's counters include those
    of its descendants."""
    own = {s["id"]: dict.fromkeys(COUNTERS, 0) for s in tracer.spans}
    prefix = f"span-{tracer.run_id}-"
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, int] = {}
        job_span: dict[int, int] = {}
        job_start: dict[int, float] = {}
        job_out: dict[int, int] = {}
        csv_stages: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    t = ev.get("Submission Time", 0) / 1000.0
                    job_start[jid] = t
                    if group.startswith(prefix):
                        sid = int(group[len(prefix):])
                    else:
                        sid = _innermost(tracer.spans, t)
                    if sid is None:
                        continue
                    job_span[jid] = sid
                    own[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = jid
                elif kind == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info") or {}
                    if any('"Scan csv' in (r.get("Scope") or "") for r in info.get("RDD Info", [])):
                        csv_stages.add(info.get("Stage ID"))
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    c = _task_counters(ev)
                    if ev.get("Stage ID") in csv_stages:
                        c["csv_tasks"] = 1
                        c["csv_task_ms"] = c["run_ms"]
                    job_out[jid] = job_out.get(jid, 0) + c["out_bytes"]
                    acc = own[job_span[jid]]
                    for k, v in c.items():
                        acc[k] += v
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_span and job_out.get(jid, 0) > 0:
                        wall = ev.get("Completion Time", 0) / 1000.0 - job_start[jid]
                        own[job_span[jid]]["out_job_ms"] += wall * 1000.0
    total = {sid: dict(c) for sid, c in own.items()}
    by_id = {s["id"]: s for s in tracer.spans}
    for sid, c in own.items():
        parent = by_id[sid]["parent"]
        while parent is not None:
            for k, v in c.items():
                total[parent][k] += v
            parent = by_id[parent]["parent"]
    return total


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None
