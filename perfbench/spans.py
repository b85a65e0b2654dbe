"""Spans around calls into the engine, joined to Spark's own event log.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent and the trace id of the operation it belongs to. Each span
sets a Spark job group, so every job the call launches carries the span
id in its ``spark.jobGroup.id`` property. Spans stay in memory; after
the session stops, :func:`read_event_log` parses the event log Spark
wrote and :func:`layer_metrics` joins jobs and tasks back to spans.

Every per-layer field is defined here:

- ``wall_s``: summed span durations.
- ``driver_s``: span time not covered by any of its Spark jobs
  (submission to completion, jobs of child spans included).
- ``jobs``: Spark jobs launched under the span or its children.
- ``exec_run_s``: summed executor run time of those jobs' tasks.
- ``shuffle_write_bytes``, ``spill_bytes`` (disk), ``bytes_written``
  (task output) and ``records_read``: summed task metrics.
- ``task_skew``: max / median task run time in the span's costliest
  stage (the stage with the largest summed run time).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"
#: per-span field -> unit
FIELDS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "exec_run_s": "s",
          "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
          "task_skew": "ratio"}


@dataclass
class Span:
    name: str
    id: str
    parent: str | None
    trace_id: str
    start: float
    end: float = 0.0
    #: counts the caller attaches (result rows, live bytes, ...)
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op that
    yields None, so untraced runs pay nothing but the call."""

    def __init__(self, spark_context=None, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark_context
        self._stack: list[Span] = []
        self._seq = 0

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        sid = f"s{self._seq}"
        s = Span(name, sid, parent.id if parent else None,
                 parent.trace_id if parent else sid, time.time())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(GROUP_PREFIX + s.id, s.name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(vars(s), self_s=self_time(s, self.spans))
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return (span.end - span.start) - _covered(kids, span.start, span.end)


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of [start, end] inside top-level spans."""
    top = [(s.start, s.end) for s in spans if s.parent is None]
    return _covered(top, start, end) / (end - start) if end > start else 0.0


@dataclass
class Job:
    id: int
    group: str | None
    start: float = 0.0       # seconds since the epoch
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    bytes_written: int
    records_read: int


def read_event_log(lines) -> tuple[dict[int, Job], list[Task]]:
    """Jobs (with their job group and stage ids) and finished tasks from
    the JSON lines of a Spark event log."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                     ev["Submission Time"] / 1000.0,
                                     stages=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks.append(Task(
                ev["Stage ID"], m.get("Executor Run Time", 0) / 1000.0,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Disk Bytes Spilled", 0),
                (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                (m.get("Input Metrics") or {}).get("Records Read", 0)))
    return jobs, tasks


def layer_metrics(spans: list[Span], jobs: dict[int, Job],
                  tasks: list[Task]) -> dict[str, dict[str, float]]:
    """Per span name: every field of :data:`FIELDS` plus
    ``bytes_written``, ``records_read`` and the summed span counters."""
    # a stage runs once, under the first job that lists it; later jobs
    # list it again only as skipped
    stage_job: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        for st in j.stages:
            stage_job.setdefault(st, j.id)
    tasks_by_job: dict[int, list[Task]] = {}
    for t in tasks:
        if t.stage in stage_job:
            tasks_by_job.setdefault(stage_job[t.stage], []).append(t)
    jobs_by_group: dict[str, list[Job]] = {}
    for j in jobs.values():
        if j.group and j.group.startswith(GROUP_PREFIX):
            jobs_by_group.setdefault(j.group[len(GROUP_PREFIX):], []).append(j)
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(jobs_by_group.get(s.id, []))
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    out: dict[str, dict[str, float]] = {}
    stage_runs: dict[str, dict[int, list[float]]] = {}
    for s in spans:
        m = out.setdefault(s.name, dict.fromkeys(
            [*FIELDS, "bytes_written", "records_read"], 0.0))
        js = subtree_jobs(s)
        wall = s.end - s.start
        m["wall_s"] += wall
        m["driver_s"] += wall - _covered([(j.start, j.end or s.end) for j in js],
                                         s.start, s.end)
        m["jobs"] += len(js)
        runs = stage_runs.setdefault(s.name, {})
        for j in js:
            for t in tasks_by_job.get(j.id, []):
                m["exec_run_s"] += t.run_s
                m["shuffle_write_bytes"] += t.shuffle_write_bytes
                m["spill_bytes"] += t.spill_bytes
                m["bytes_written"] += t.bytes_written
                m["records_read"] += t.records_read
                runs.setdefault(t.stage, []).append(t.run_s)
        for k, v in s.counters.items():
            m[k] = m.get(k, 0.0) + v
    for name, runs in stage_runs.items():
        if runs:
            costly = max(runs.values(), key=sum)
            # executor run time is whole milliseconds; floor the median there
            out[name]["task_skew"] = max(costly) / max(statistics.median(costly), 1e-3)
    return out
