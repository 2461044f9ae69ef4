"""In-memory spans around calls into the engine's modules, and the
percentile rule the benchmark reports timings with.

A ``Tracer`` replaces a public function or method on its module or class
with a wrapper that records one span per call: name, start, end, parent span
and operation id. Spans stay in a list until the run ends. ``restore`` puts
the original functions back.
"""

from __future__ import annotations

import contextlib
import functools
import math
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 self.op, name, time.time())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` until ``restore``."""
        original = owner.__dict__[attr]
        fn = original.__func__ if isinstance(original, staticmethod) else original

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr,
                staticmethod(traced) if isinstance(original, staticmethod)
                else traced)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_ms(self) -> dict[int, float]:
        """Span id -> its duration minus its direct children's durations."""
        out = {s.sid: s.ms for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.ms
        return out

    def by_op(self) -> dict[int, dict[str, float]]:
        """Operation id -> layer name -> summed self time in ms."""
        selfs = self.self_ms()
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            if s.op is not None:
                d = out.setdefault(s.op, {})
                d[s.name] = d.get(s.name, 0.0) + selfs[s.sid]
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0)


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = (len(v) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def interquartile_mean(values) -> float:
    """Mean of the middle half of the sorted values (a 25% trimmed mean):
    as robust to outliers as the median, but it averages over half the
    samples instead of resting on one or two."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    k = len(v) // 4
    mid = v[k:len(v) - k]
    return sum(mid) / len(mid)


def tail_supported(n: int, q: float) -> bool:
    """A percentile is reported only when at least ten samples lie beyond
    it."""
    return n * (100.0 - q) / 100.0 >= 10


def highest_tail(n: int) -> float | None:
    """The highest of ``TAIL_PERCENTILES`` that ``n`` samples support."""
    for q in TAIL_PERCENTILES:
        if tail_supported(n, q):
            return q
    return None
