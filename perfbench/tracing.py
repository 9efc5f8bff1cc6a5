"""In-memory spans recorded by the benchmark around calls into the engine.

A span is (name, start, end, parent, run id). Spans nest on one thread;
each span also tags the Spark jobs started inside it with a job group
``<run id>/<span index>``, so event-log counts can be attributed to the
innermost span (and summed over a subtree).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's own timestamps
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Tag jobs from now on (the context exists only after set-up)."""
        self._sc = spark_context

    def group(self, idx: int | None) -> str | None:
        return None if idx is None else f"{self.run_id}/{idx}"

    def _tag(self, idx: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, self.group(idx))

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        self._tag(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._tag(parent)

    def add(self, name: str, start: float, end: float, parent: int) -> int:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        self.spans.append(Span(name, start, end, parent, self.run_id))
        return len(self.spans) - 1

    @contextlib.contextmanager
    def wrapped(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a wrapper that runs the original
        inside span `name`; restore it on exit."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for c in self.children(idx):
            out.extend(self.subtree(c))
        return out

    def duration(self, idx: int) -> float:
        return self.spans[idx].end - self.spans[idx].start

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in self.children(idx)]
        return (s.end - s.start) - covered(kids, s.start, s.end)

    def total(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(self.duration(i) for i, s in enumerate(self.spans) if s.name == name)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s), "self": self.self_time(i)}) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
