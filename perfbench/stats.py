"""Summary statistics and the span recorder the benchmark reports with."""

from __future__ import annotations

import json
import statistics
import threading
import time
import uuid
from dataclasses import asdict, dataclass


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` computes them
    (the exclusive method); a single value is its own quartiles."""
    v = list(values)
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = max(1, -(-len(v) * p // 100))   # ceil(n * p / 100), at least 1
    return float(v[int(k) - 1])


TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0, 50.0)


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float]:
    """The highest of ``TAIL_PERCENTILES`` that has at least
    ``min_beyond`` samples above its rank, as ``(p, value)``; the median
    when there are too few samples for any tail."""
    v = sorted(values)
    n = len(v)
    for p in TAIL_PERCENTILES:
        k = int(max(1, -(-n * p // 100)))
        if n - k >= min_beyond:
            return p, float(v[k - 1])
    return 50.0, percentile(v, 50.0)


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end))
                for a, b in children.get(s.span_id, [])]
        out[s.span_id] = s.duration - _covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Spans kept in memory and written out once, at the end. A disabled
    tracer records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, **attrs):
        """Context manager timing a block; a child of this thread's open
        span. Its ``seconds`` are measured whether or not tracing is on."""
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a span whose times were measured elsewhere (for example
        a streaming trigger rebuilt from its progress event); the parent
        defaults to this thread's open span."""
        if not self.enabled:
            return None
        if parent is None:
            parent = self.current()
        sid = self._new_id()
        with self._lock:
            self.spans.append(Span(name, start, end, sid, parent,
                                   self.run_id, attrs))
        return sid

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
        return out

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["self"] = st[s.span_id]
                f.write(json.dumps(d) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.span_id = self.parent = None

    def __enter__(self):
        if self.t.enabled:
            self.span_id = self.t._new_id()
            self.parent = self.t.current()
            self.t._stack().append(self.span_id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.t.enabled:
            self.t._stack().pop()
            with self.t._lock:
                self.t.spans.append(Span(self.name, self.start, self.end,
                                         self.span_id, self.parent,
                                         self.t.run_id, self.attrs))
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start
