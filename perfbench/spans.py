"""Spans recorded from the benchmark's own files around each call
into a layer of the program, plus the Spark event-log counts per op.

A span is (name, start, end, parent, op id). Spans stay in memory and
are written out once, at the end of a run. A layer's self time is its
span's duration minus the part of that interval its child spans
cover; the op's root span keeps the remainder, reported as ``other``.

``Tracer(enabled=False)`` makes the same calls with no recording, so
the untraced run pays no bookkeeping.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

ROOT = "op"  # name of each request's root span; its self time is "other"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    error: bool = False
    children: list = field(default_factory=list)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.record_s = 0.0  # time spent in span bookkeeping itself
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Time the enclosed call as a span of layer ``name``. Inside
        an ``op`` span the op id is inherited from the parent."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(sid, name, 0.0, parent=parent.span_id if parent else None,
                  op_id=op_id if op_id is not None else (parent.op_id if parent else None))
        if parent is not None:
            parent.children.append(sp)
        stack.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        except BaseException:
            sp.error = True
            raise
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            stack.pop()
            with self._lock:
                self.spans.append(sp)
            self.record_s += (t1 - t0) + (time.perf_counter() - t2)

    def count(self, name: str, n: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (at the end of a run)."""
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.span_id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op_id, "error": s.error,
                }) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of
    ``intervals`` (clipped to [lo, hi])."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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


def self_time(span: Span) -> float:
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name; the root ``op`` spans' self time
    is reported as ``other``."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out["other" if s.name == ROOT else s.name] += self_time(s)
    return dict(out)


# ---- Spark event log -------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def job_group_counts(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group (one group per op): jobs, stages, tasks, task run
    time, input bytes, shuffle bytes written, failed tasks. Read from
    the event log after the session stopped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["task_time_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return out
