"""Spans around calls into the linker's layers, and the Spark event log
that attributes task work to them.

A span is opened by the benchmark around a call into one module's public
functions. A top-level span names its layer, and every Spark job the
layer triggers runs under a job group of that name, so the event log
(enabled in the traced run only) ties task metrics back to the layer.
Spans are kept in memory and read out after the run."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
PY_BYTES = "data sent to Python workers"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans on the wall clock (epoch seconds, the clock
    the event log uses). With a SparkContext, a top-level span sets the
    job group to its layer name for the calls inside it."""

    def __init__(self, sc=None, clock=time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        layer = name if parent is None else self.spans[parent].layer
        sp = Span(name, layer, self.clock(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        prev = None
        if self.sc is not None and parent is None:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, layer)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.sc is not None and parent is None:
                self.sc.setLocalProperty(JOB_GROUP, prev)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children
    cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        sp.wall - union_length(children.get(i, []), sp.start, sp.end)
        for i, sp in enumerate(spans)
    ]


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    succeeded: bool = True
    shuffle_bytes: int = 0
    py_bytes: int = 0
    failed_tasks: int = 0
    tasks: int = 0


def parse_event_log(lines) -> list[Job]:
    """Jobs of a Spark event log (one JSON event per line, uncompressed,
    not rolled), with their job group, interval and the task metrics of
    their stages: shuffle bytes written, bytes sent to Python workers and
    failed task attempts."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            t = ev["Submission Time"] / 1000.0
            jobs[jid] = Job(jid, props.get(JOB_GROUP), t, t)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                result = (ev.get("Job Result") or {}).get("Result")
                job.succeeded = result == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            job.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                job.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            job.shuffle_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") == PY_BYTES:
                    job.py_bytes += int(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_log(path: str) -> list[Job]:
    with open(path) as f:
        return parse_event_log(f)


def layer_totals(spans: list[Span], jobs: list[Job], slack: float = 0.05,
                 time_matched=frozenset()) -> dict:
    """Per layer, summed over its top-level spans: wall, driver-only time
    (span time during which none of the layer's jobs ran), shuffle and
    Python bytes and failed tasks of the jobs that ran under the layer's
    job group inside the span. Layers in `time_matched` own every job that
    starts inside their span, whatever its group. `slack` absorbs the
    clock granularity of the event log (milliseconds) at the span edges."""
    out: dict[str, dict] = {}
    for sp in spans:
        if sp.parent is not None:
            continue
        mine = [
            j for j in jobs
            if (j.group == sp.layer or sp.layer in time_matched)
            and j.start >= sp.start - slack
            and j.start <= sp.end + slack
        ]
        busy = union_length([(j.start, j.end) for j in mine], sp.start, sp.end)
        t = out.setdefault(
            sp.layer,
            {"wall_s": 0.0, "driver_s": 0.0, "shuffle_mb": 0.0, "py_mb": 0.0,
             "failed_tasks": 0, "jobs": 0},
        )
        t["wall_s"] += sp.wall
        t["driver_s"] += sp.wall - busy
        t["shuffle_mb"] += sum(j.shuffle_bytes for j in mine) / 1e6
        t["py_mb"] += sum(j.py_bytes for j in mine) / 1e6
        t["failed_tasks"] += sum(j.failed_tasks for j in mine)
        t["jobs"] += len(mine)
    return out
