"""Spans around calls into the engine's public functions, and the Spark
event-log figures attributed to them.

A span records name, start, end, the span that was open when it began,
and the benchmark operation it belongs to. Each span runs its Spark jobs
in a job group of its own (job groups are per thread under PySpark's
pinned-thread mode), so the event log tells which span submitted which
job. A job with no group goes to the innermost main-thread span open
when it was submitted.

Spans stay in memory; the event log is read once, after the Spark
context has stopped and flushed it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    op: int
    main: bool
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; Spark job groups are set once ``spark`` is given."""

    spark: object = None
    op: int = -1  # index of the benchmark operation now running
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _main_stack: list[Span] = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        stack = self._stack()
        main = stack is self._main_stack
        with self._lock:
            outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
            span = Span(len(self.spans), name, outer.id if outer else None, time.time(), self.op, main)
            self.spans.append(span)
            stack.append(span)
        self._set_group(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            with self._lock:
                stack.pop()
                outer = stack[-1] if stack else None
            self._set_group(outer)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call of the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, spanned)


@dataclass
class Job:
    id: int
    submitted: float
    group: str | None
    stages: list[int]
    span: int | None = None


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write: float
    spill: float


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Jobs and finished tasks from the event log of the one Spark
    context that logged into ``log_dir`` (Spark 4 rolls it into numbered
    ``events_<n>_*`` files under one directory)."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.jobGroup.id"),
                        ev.get("Stage IDs", []),
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        ev["Stage ID"],
                        float(m.get("Executor Run Time", 0)),
                        float(m.get("Executor CPU Time", 0)),
                        float(m.get("JVM GC Time", 0)),
                        float(sw.get("Shuffle Bytes Written", 0)),
                        float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0)),
                    )
                )
    return jobs, tasks


def attribute(tracer: Tracer, jobs: list[Job]) -> None:
    """Set ``job.span``: the span of the job's group, else the innermost
    main-thread span open at submission."""
    by_group = {f"perfbench-{s.id}": s.id for s in tracer.spans}
    main = [s for s in tracer.spans if s.main]
    for job in jobs:
        if job.group in by_group:
            job.span = by_group[job.group]
            continue
        best = None
        for s in main:
            if s.start <= job.submitted <= s.end and (best is None or s.start >= best.start):
                best = s
        job.span = best.id if best else None


def op_spans(tracer: Tracer, jobs: list[Job], op: int) -> dict[str, dict[str, float]]:
    """Per span name within one operation: total seconds, longest single
    span, jobs submitted while it was the innermost span (``jobs``) and
    jobs of it and all its descendants (``jobs_all``)."""
    spans = {s.id: s for s in tracer.spans if s.op == op}
    out: dict[str, dict[str, float]] = {}
    for s in spans.values():
        t = out.setdefault(s.name, {"s": 0.0, "max_s": 0.0, "jobs": 0, "jobs_all": 0})
        t["s"] += s.end - s.start
        t["max_s"] = max(t["max_s"], s.end - s.start)
    for job in jobs:
        if job.span not in spans:
            continue
        out[spans[job.span].name]["jobs"] += 1
        seen: set[str] = set()
        sid = job.span
        while sid in spans:
            name = spans[sid].name
            if name not in seen:
                out[name]["jobs_all"] += 1
                seen.add(name)
            sid = spans[sid].parent
    return out


def spark_totals(jobs: list[Job], tasks: list[Task], job_ids: set[int]) -> dict[str, float]:
    """Event-log totals over the tasks of the given jobs.

    ``task_skew_max`` is the largest max/median task run time over the
    stages with at least two tasks and a median of at least 5 ms (shorter
    tasks measure scheduler noise, not skew)."""
    stage_job: dict[int, int] = {}
    for job in jobs:
        for st in job.stages:
            stage_job.setdefault(st, job.id)
    mine = [t for t in tasks if stage_job.get(t.stage) in job_ids]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skew = 1.0
    for times in by_stage.values():
        med = statistics.median(times)
        if len(times) >= 2 and med >= 5:
            skew = max(skew, max(times) / med)
    return {
        "jobs": len(job_ids),
        "tasks": len(mine),
        "shuffle_write_bytes": sum(t.shuffle_write for t in mine),
        "spill_bytes": sum(t.spill for t in mine),
        "executor_cpu_s": sum(t.cpu_ns for t in mine) / 1e9,
        "gc_s": sum(t.gc_ms for t in mine) / 1e3,
        "task_skew_max": skew,
    }
