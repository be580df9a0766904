"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent). Spans are kept in a list and only
written out when the run ends. ``Tracer(enabled=False)`` records nothing
and wraps nothing (``wrap`` hands back the function itself, ``span`` is an
empty context), so a run with tracing off calls the program exactly as
it would without this module.

Times are ``time.time()`` seconds, the clock Spark's event log uses, so a
span can be lined up with the jobs and stages that ran inside it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._parents()
        with self._lock:
            sid = len(self.spans)
            rec = Span(sid, name, time.time(), 0.0, stack[-1] if stack else None)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec.end = time.time()

    def wrap(self, fn, name: str):
        """``fn`` itself when tracing is off; otherwise ``fn`` inside a span."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_method(self, obj, attr: str, name: str) -> None:
        """Shadow ``obj.attr`` with a traced instance attribute, so calls the
        object makes to itself are traced too. No-op when tracing is off."""
        if self.enabled:
            setattr(obj, attr, self.wrap(getattr(obj, attr), name))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span minus the union of its children's
    intervals (children are clipped to the parent)."""
    children: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
        )
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
