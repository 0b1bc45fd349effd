"""In-memory spans, job/task counting and the percentile rule.

Spans are taken from the benchmark's own code around calls into the
program's layers; nothing inside the program is instrumented. A span
records name, start, end, parent and request id, and the whole list is
written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    request: str | None = None
    counts: dict = field(default_factory=dict)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
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
    return (span.end - span.start) - covered


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing
    and its ``span`` context manager costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, time.monotonic(), None,
                     stack[-1].id if stack else None, request)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class JobCounter:
    """Spark jobs and tasks started between two points, from the status
    tracker. ``delta`` is for calls that run serially with no job group
    set; ``for_group`` for a request tagged with its own job group."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def tasks(self, job_ids) -> int:
        n = 0
        for jid in job_ids:
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = self.tracker.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    @contextmanager
    def delta(self, span: Span | None):
        """Record ``jobs`` and ``tasks`` of the enclosed calls on the span."""
        if span is None:
            yield
            return
        before = self.job_ids()
        try:
            yield
        finally:
            new = self.job_ids() - before
            span.counts["jobs"] = len(new)
            span.counts["tasks"] = self.tasks(new)

    def for_group(self, group: str) -> tuple[int, int]:
        ids = self.tracker.getJobIdsForGroup(group)
        return len(ids), self.tasks(ids)
