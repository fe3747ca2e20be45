"""Measurement helpers: percentiles with a sample rule, in-memory spans
with self times, and Spark job/stage counters read from outside the
program.

Nothing here changes how the program runs. Spans wrap calls the
benchmark makes into the program's public functions; counters come
from ``SparkContext.statusTracker()`` and the application status store.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_needed(q: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count with at least ``beyond`` samples above the
    ``q``-th percentile."""
    return math.ceil(beyond / (1.0 - q / 100.0) - 1e-9)


def supported(n: int, q: float, beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``beyond`` above the ``q``-th
    percentile."""
    return math.floor(n * (1.0 - q / 100.0) + 1e-9) >= beyond


def tail(values: list[float], q: float) -> float:
    """The ``q``-th percentile, refused when the sample cannot support it."""
    if not supported(len(values), q):
        raise ValueError(
            f"p{q:g} needs {samples_needed(q)} samples, have {len(values)}"
        )
    return percentile(values, q)


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


class SparkCounters:
    """Jobs, tasks and shuffle bytes of the jobs run under one job group.

    Each span runs its calls under its own job group (thread-local in
    PySpark's pinned-thread mode), so concurrent clients never count each
    other's jobs."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def group(self, group_id: str) -> dict[str, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group_id)
        stages = tasks = shuffle = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(int(sid))
                except Exception:  # stage evicted from the status store
                    continue
                stages += 1
                tasks += int(sd.numCompleteTasks())
                shuffle += int(sd.shuffleWriteBytes())
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "shuffle_bytes": shuffle}


class Tracer:
    """Spans kept in memory and written out at the end.

    With ``enabled=False`` a span costs a few clock reads: the untraced
    run uses the same code path, so the difference between traced and
    untraced end-to-end time is the tracing overhead."""

    def __init__(self, spark=None, enabled: bool = False, trace_id: str = "run") -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._counters = SparkCounters(spark) if (enabled and spark is not None) else None
        self._sc = spark.sparkContext if spark is not None else None
        self.bookkeeping_s = 0.0  # time spent switching job groups and reading counters

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        group = f"{self.trace_id}-{sid}"
        t_book = time.perf_counter()
        if self._counters is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        stack.append(sid)
        attrs = dict(attrs)
        t0 = time.perf_counter()
        booked = t0 - t_book
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if self._counters is not None:
                if prev is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(prev, "")
                attrs.update(self._counters.group(group))
            with self._lock:
                self.spans.append(Span(name, t0, t1, sid, parent, self.trace_id, attrs))
                self.bookkeeping_s += booked + time.perf_counter() - t1

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, span: Span, key: str) -> float:
        """A counter summed over the span and all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total, todo = 0.0, [span]
        while todo:
            s = todo.pop()
            total += s.attrs.get(key, 0) or 0
            todo += kids.get(s.span_id, [])
        return total

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "trace_id": s.trace_id, "span_id": s.span_id, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end,
                    "duration_s": s.duration, "self_s": st[s.span_id], **s.attrs,
                }) + "\n")
