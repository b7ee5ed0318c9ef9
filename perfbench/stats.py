"""Pure helpers: the percentile rule, offset→commit matching, and spans.

Nothing here imports Spark, so the benchmark's unit tests exercise it
without a session.
"""

from __future__ import annotations

import bisect
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    k = max(math.ceil(p / 100.0 * len(s)), 1)
    return float(s[k - 1])


def tail(values, wanted: float = 99.0) -> tuple[float, float, int]:
    """The highest percentile ≤ ``wanted`` that still has at least
    ``MIN_BEYOND`` samples beyond it, as ``(p, value, n)``.

    A p99 over 300 samples rests on three values; the rule falls back to
    the highest level the sample supports and says which one it used.
    Returns ``(0.0, 0.0, n)`` when no level qualifies.
    """
    n = len(values)
    for p in PERCENTILES:
        if p > wanted:
            continue
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p, percentile(values, p), n
    return 0.0, 0.0, n


def carrying_batch(offsets: list[int], ends: list[int]) -> list[int | None]:
    """For each ACKed offset, the index of the first committed
    micro-batch whose end offset covers it: the batch that carried it.

    ``ends`` holds the end offsets in commit order; an end offset is
    exclusive (a batch that ends at 10 holds offsets below 10), and end
    offsets never decrease. An offset no commit covers maps to None.
    """
    out: list[int | None] = []
    for offset in offsets:
        i = bisect.bisect_right(ends, offset)
        out.append(i if i < len(ends) else None)
    return out


def backlog(
    ack_times: list[float], commits: list[tuple[float, int]]
) -> list[int]:
    """Events ACKed but not yet committed, sampled at each commit."""
    acked = sorted(ack_times)
    return [bisect.bisect_right(acked, t) - end for t, end in commits]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans with a parent stack. ``enabled=False`` keeps the
    call sites but records nothing, so untraced runs pay one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = self.add(name, layer, time.monotonic(), 0.0, **attrs)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def add(self, name, layer, start, end, parent=None, **attrs) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(name, layer, start, end, parent, attrs)
        self.spans.append(s)
        return s


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children."""
    child_sum = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] += s.duration
    return [s.duration - c for s, c in zip(spans, child_sum)]


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out
