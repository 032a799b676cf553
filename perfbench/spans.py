"""Benchmark-side tracing: spans around public calls, and Spark
event-log job metrics attributed to those spans.

Spans live in memory (``Tracer.spans``) and are written once, at the
end of a run. Spark jobs are attributed to the innermost span whose
wall-clock interval holds the job's submission time; jobs submitted
from ``io.eager_pool`` worker threads carry no job description, so
interval attribution is the only rule that covers them.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in epoch seconds, so they line up with
    Spark's event-log timestamps. Spans cost microseconds and are kept
    in every run; ``--trace 1`` is what adds the event log."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[idx]
        covered = 0.0
        for lo, hi in _merge((c.start, c.end) for c in self.children(idx)):
            covered += max(0.0, min(hi, s.end) - max(lo, s.start))
        return s.seconds - covered

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": self.self_seconds(i)}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)


def _merge(intervals):
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    completed: float
    stages: list[int]
    executor_run_ms: int = 0
    jvm_gc_ms: int = 0
    shuffle_write_bytes: int = 0


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, non-rolling JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_jobs(log_dir: str) -> list[Job]:
    """Every job in every application log under ``log_dir``, with its
    tasks' executor run time, JVM GC time and shuffle bytes written."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0, list(ev["Stage IDs"]))
                    by_id[job.job_id] = job
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
                    by_id[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job.executor_run_ms += int(m.get("Executor Run Time", 0))
                    job.jvm_gc_ms += int(m.get("JVM GC Time", 0))
                    job.shuffle_write_bytes += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
        jobs.extend(by_id.values())
    return jobs


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span index -> jobs submitted inside it, innermost span wins."""
    out: dict[int, list[Job]] = {}
    for job in jobs:
        best = None
        for i, s in enumerate(tracer.spans):
            if s.start <= job.submitted <= s.end and (best is None or s.start >= tracer.spans[best].start):
                best = i
        if best is not None:
            out.setdefault(best, []).append(job)
    return out


def jobs_under(tracer: Tracer, by_span: dict[int, list[Job]], idx: int) -> list[Job]:
    """Jobs attributed to span ``idx`` or any of its descendants."""
    out = list(by_span.get(idx, []))
    for i, s in enumerate(tracer.spans):
        if s.parent == idx:
            out.extend(jobs_under(tracer, by_span, i))
    return out


def job_totals(jobs: list[Job]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "executor_run_ms": sum(j.executor_run_ms for j in jobs),
        "jvm_gc_ms": sum(j.jvm_gc_ms for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
    }


def covered_seconds(jobs: list[Job], lo: float, hi: float) -> float:
    """Wall time inside [lo, hi] during which at least one job ran."""
    return sum(
        max(0.0, min(b, hi) - max(a, lo))
        for a, b in _merge((j.submitted, j.completed or j.submitted) for j in jobs)
    )
