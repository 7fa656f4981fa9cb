"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log into per-span counters.

A span records its name, start, end, parent and op id. Every span runs
under its own Spark job group (``setJobGroup``), so each job in the
event log belongs to exactly one span: the innermost one open when the
job ran. Spans live in memory and are folded after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: s.dur - covered(kids[s.sid], s.start, s.end)
            for s in spans}


class Tracer:
    """Nested spans, each under its own Spark job group.

    Disabled (the untraced run), ``span`` records nothing and touches
    no Spark state, so the timed path is the bare package call. With
    ``sc=None`` spans are recorded without job groups (unit tests).
    """

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @staticmethod
    def group(s: Span) -> str:
        return f"pb-{s.sid}"

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group(s), s.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


# --------------------------------------------------------------- event log

_ACC = {
    "data sent to Python workers": "py_bytes_in",
    "time to run Python workers": "py_worker_ms",
}


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = (sorted(glob.glob(os.path.join(path, "events_*")))
                 if os.path.isdir(path) else [path])
        for f in files:
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Job group id -> counters summed over its jobs' tasks.

    Counters: jobs, tasks, executor run and CPU seconds, GC seconds,
    shuffle bytes written, bytes sent to Python workers and their run time,
    rows entering stages that run a Python operator, and per stage the
    task run times (for skew)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list] = defaultdict(list)
    stage_py: dict[int, bool] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            out[gid]["jobs"] += 1
            for st in e.get("Stage IDs", []):
                stage_group.setdefault(st, gid)
        elif ev == "SparkListenerTaskEnd":
            gid = stage_group.get(e.get("Stage ID"))
            if gid is None:
                continue
            c = out[gid]
            tm = e.get("Task Metrics") or {}
            c["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            c["run_s"] += run_ms / 1e3
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            rows = (tm.get("Input Metrics") or {}).get("Records Read", 0) + (
                tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            py = False
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key is not None and acc.get("Update") is not None:
                    c[key] += float(acc["Update"])
                    py = True
            if py:
                c["py_rows_in"] += rows
            sid = e["Stage ID"]
            stage_tasks[sid].append(run_ms / 1e3)
            stage_py[sid] = stage_py.get(sid, False) or py
    for sid, runs in stage_tasks.items():
        gid = stage_group[sid]
        out[gid].setdefault("stages", [])
        out[gid]["stages"].append((sum(runs), skew(runs), stage_py[sid]))
    return {g: dict(c) for g, c in out.items()}


def skew(task_seconds: list[float]) -> float:
    """Max over median task time; 1.0 for a perfectly even stage."""
    xs = sorted(task_seconds)
    med = xs[len(xs) // 2] if len(xs) % 2 else (
        (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2)
    return xs[-1] / med if med > 0 else 1.0


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.sid])
    return out
