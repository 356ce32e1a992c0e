"""Spans recorded by the benchmark and the fold of Spark's event log onto them.

A span is opened in the benchmark's own code around one call into an engine
layer. While it is open, the jobs Spark starts on the calling thread carry
the span's job tag (``SparkContext.addJobTag``); after the session stops, the
event log is folded so that every job, and every task of its stages, is
charged to the innermost span whose tag it carries.

Everything below :class:`Tracer` is pure Python over plain dicts, so the
fold can be checked without Spark (see ``selftest.py``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "cdcbench-span-"


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    depth: int
    start_ms: float
    end_ms: float | None = None

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.span_id}"


class Tracer:
    """Keeps spans in memory. Disabled, ``span`` sets no tag and records
    nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent.span_id if parent else None,
                      len(stack), time.time() * 1000.0)
            self.spans.append(sp)
        stack.append(sp)
        self.sc.addJobTag(sp.tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(sp.tag)
            sp.end_ms = time.time() * 1000.0
            stack.pop()


# --------------------------------------------------------------------------
# interval arithmetic


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def child_intervals(span: Span, spans: list[Span]) -> list[tuple[float, float]]:
    return [(c.start_ms, c.end_ms) for c in spans if c.parent_id == span.span_id]


def self_time_s(span: Span, covered) -> float:
    """A span's wall minus the part of it the ``covered`` intervals take:
    its child spans' for self time, its Spark jobs' for driver time with
    no job running."""
    return (span.end_ms - span.start_ms - union_length(covered, span.start_ms, span.end_ms)) / 1000.0


# --------------------------------------------------------------------------
# event log fold


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float | None
    tags: list[str]
    stage_ids: list[int]
    span_id: int | None = None


@dataclass
class StageAgg:
    """Task metrics summed over one stage, plus per-task run times."""

    stage_id: int
    shuffle_map: bool = False
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_records: int = 0
    spill_bytes: int = 0
    task_run_ms: list = field(default_factory=list)
    acc: dict = field(default_factory=dict)  # SQL metric name -> summed update


def read_event_log(path: str) -> list[dict]:
    """All events of the uncompressed event logs under ``path`` (a file, or
    a directory holding plain or rolling logs)."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(path)
            for f in names
            if not f.startswith((".", "appstatus"))
        )
    events = []
    for fn in files:
        with open(fn) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold(events: list[dict], spans: list[Span]) -> tuple[dict[int, Job], dict[int, StageAgg]]:
    """Jobs (each charged to its innermost tagged span) and per-stage task
    aggregates. A stage belongs to the first job that lists it."""
    by_tag = {s.tag: s for s in spans}
    jobs: dict[int, Job] = {}
    stages: dict[int, StageAgg] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
            job = Job(ev["Job ID"], _num(ev.get("Submission Time")), None, tags,
                      list(ev.get("Stage IDs") or []))
            owners = [by_tag[t] for t in tags if t in by_tag]
            if owners:
                job.span_id = max(owners, key=lambda s: s.depth).span_id
            jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = _num(ev.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, StageAgg(sid))
            m = ev.get("Task Metrics") or {}
            st.shuffle_map = st.shuffle_map or ev.get("Task Type") == "ShuffleMapTask"
            run = _num(m.get("Executor Run Time"))
            st.run_ms += run
            st.task_run_ms.append(run)
            st.cpu_ns += _num(m.get("Executor CPU Time"))
            st.gc_ms += _num(m.get("JVM GC Time"))
            st.spill_bytes += int(_num(m.get("Disk Bytes Spilled")))
            inp = m.get("Input Metrics") or {}
            st.input_bytes += int(_num(inp.get("Bytes Read")))
            st.input_records += int(_num(inp.get("Records Read")))
            st.output_bytes += int(_num((m.get("Output Metrics") or {}).get("Bytes Written")))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(_num(sw.get("Shuffle Bytes Written")))
            st.shuffle_write_records += int(_num(sw.get("Shuffle Records Written")))
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_records += int(_num(sr.get("Total Records Read")))
            for a in (ev.get("Task Info") or {}).get("Accumulables") or []:
                name = a.get("Name")
                if name and not name.startswith("internal."):
                    st.acc[name] = st.acc.get(name, 0.0) + _num(a.get("Update"))
    return jobs, stages


def stage_owner(jobs: dict[int, Job]) -> dict[int, Job]:
    owner: dict[int, Job] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            owner.setdefault(sid, jobs[jid])
    return owner


def descendants(spans: list[Span], roots: set[int]) -> set[int]:
    """``roots`` and every span below them."""
    out = set(roots)
    for s in spans:  # spans are appended in open order: parents come first
        if s.parent_id in out:
            out.add(s.span_id)
    return out
