"""Tracing for the per-layer run: in-memory spans around public calls,
plus the Spark event log, attached to ops by time.

A span records name, layer, start, end, parent span and the op id
shared by every span of one op.  Spans stay in memory until the run
ends.  The event log is written by Spark itself; it is only enabled
for the traced run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float  # epoch seconds (same clock as the event log)
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, layer, time.time(), 0.0, stack[-1] if stack else None, self.op)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, obj, attr: str, name: str, layer: str) -> None:
        """Replace ``obj.attr`` (a module function or a bound method on
        one instance) with a spanned wrapper."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        setattr(obj, attr, spanned)

    def op_spans(self, op: int, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.op == op and (name is None or s.name == name)]


# ------------------------------------------------------------- event log

@dataclass
class Job:
    jid: int
    submit: float
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    deser_s: float
    ser_s: float
    gc_s: float
    shuffle_write: int
    spill: int

    @property
    def sched_delay_s(self) -> float:
        return max(0.0, (self.finish - self.launch) - self.run_s - self.deser_s - self.ser_s)


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1e3, 0.0, ev["Stage IDs"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    ti, tm = ev["Task Info"], ev["Task Metrics"]
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        ev["Stage ID"], ti["Launch Time"] / 1e3, ti["Finish Time"] / 1e3,
                        tm["Executor Run Time"] / 1e3, tm["Executor Deserialize Time"] / 1e3,
                        tm["Result Serialization Time"] / 1e3, tm["JVM GC Time"] / 1e3,
                        int(sw.get("Shuffle Bytes Written", 0)),
                        int(tm.get("Memory Bytes Spilled", 0)) + int(tm.get("Disk Bytes Spilled", 0)),
                    ))
    return sorted(jobs.values(), key=lambda j: j.submit), tasks


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(op_start: float, op_end: float, layered: list[tuple[str, float, float]],
              order: list[str]) -> dict[str, float]:
    """Split [op_start, op_end] among layers: each instant goes to the
    first layer in ``order`` active then; instants no layer covers are
    "unattributed" (serial driver time)."""
    cuts = {op_start, op_end}
    for _, a, b in layered:
        cuts.add(min(max(a, op_start), op_end))
        cuts.add(min(max(b, op_start), op_end))
    pts = sorted(cuts)
    out = {name: 0.0 for name in order}
    out["unattributed"] = 0.0
    rank = {name: i for i, name in enumerate(order)}
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        active = [rank[n] for n, s, e in layered if s <= mid < e]
        key = order[min(active)] if active else "unattributed"
        out[key] += b - a
    return out


@dataclass
class OpStats:
    jobs: int
    stages: int
    tasks: int
    task_run_s: float
    sched_delay_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    job_intervals: list[tuple[float, float]]


def per_op_stats(ops: list[tuple[float, float]], jobs: list[Job], tasks: list[Task]) -> list[OpStats]:
    """Attach jobs (by submission time) and tasks (by their job's stages)
    to the closed-loop ops they ran in."""
    stage_op: dict[int, int] = {}
    out = []
    for i, (a, b) in enumerate(ops):
        mine = [j for j in jobs if a <= j.submit <= b]
        for j in mine:
            for s in j.stages:
                stage_op.setdefault(s, i)
        out.append(OpStats(len(mine), 0, 0, 0.0, 0.0, 0.0, 0, 0,
                           [(j.submit, j.end or b) for j in mine]))
    stages_seen: list[set[int]] = [set() for _ in ops]
    for t in tasks:
        i = stage_op.get(t.stage)
        if i is None:
            continue
        o = out[i]
        stages_seen[i].add(t.stage)
        o.tasks += 1
        o.task_run_s += t.run_s
        o.sched_delay_s += t.sched_delay_s
        o.gc_s += t.gc_s
        o.shuffle_write += t.shuffle_write
        o.spill += t.spill
    for o, s in zip(out, stages_seen):
        o.stages = len(s)
    return out
