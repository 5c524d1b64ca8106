"""Spans around layer calls and a reader for Spark's JSON event log.

A span records (name, start, end, parent) on the benchmark's own clock.
While a span is open, Spark jobs submitted from the driver thread carry
the span's name as their job group (``SparkContext.setJobGroup``), so
the event log attributes every job, stage and task to the innermost
open span. The event log is enabled by the benchmark's session with
compression and rolling off, which makes it one plain JSON-lines file.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; timed (untraced) passes make none."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, time.time(), parent=parent)
        self._stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            self._set_group(self._stack[-1].name if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)


def unwrap(owner, attr: str) -> None:
    fn = getattr(owner, attr)
    setattr(owner, attr, getattr(fn, "__wrapped__", fn))


# --- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    executor_run_s: float
    shuffle_bytes: int
    bytes_read: int


def _acc(info: dict, name: str) -> float:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Value", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def flush_listener_bus(spark, timeout_ms: int = 30000) -> None:
    """Wait until every listener event so far has reached the event log."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with their job group) and completed stages from the single
    uncompressed event log file under ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[-1], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = Stage(
                    stage_id=info["Stage ID"],
                    tasks=int(info.get("Number of Tasks", 0)),
                    executor_run_s=_acc(info, "internal.metrics.executorRunTime") / 1000.0,
                    shuffle_bytes=int(_acc(info, "internal.metrics.shuffle.write.bytesWritten")),
                    bytes_read=int(_acc(info, "internal.metrics.input.bytesRead")),
                )
    return jobs, stages


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def census(jobs: dict[int, Job], stages: dict[int, Stage], t0: float, t1: float,
           groups: set[str] | None = None) -> dict[str, float]:
    """Jobs, stages, tasks, executor time, shuffle bytes and job-busy wall
    time of the jobs submitted in [t0, t1] (optionally only those whose
    job group is in ``groups``)."""
    picked = [
        j for j in jobs.values()
        if t0 <= j.start <= t1 and (groups is None or j.group in groups)
    ]
    ran = [stages[s] for j in picked for s in j.stage_ids if s in stages]
    return {
        "jobs": len(picked),
        "stages": len(ran),
        "tasks": sum(s.tasks for s in ran),
        "executor_run_s": sum(s.executor_run_s for s in ran),
        "shuffle_bytes": sum(s.shuffle_bytes for s in ran),
        "bytes_read": sum(s.bytes_read for s in ran),
        "busy_s": _union_seconds([(j.start, j.end or t1) for j in picked]),
    }
