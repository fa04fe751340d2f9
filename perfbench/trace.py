"""Span recorder, latency summaries and failure accounting.

Spans are kept in memory and written out once, when the run ends. A span's
self time is its duration minus the part of its interval that its child
spans cover. A disabled recorder hands out a shared no-op context, so the
untraced runs pay one attribute check per call site.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    op: int
    parent: int | None
    name: str
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), op=parent.op if parent else self._op,
                 parent=parent.id if parent else None, name=name,
                 start=time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        st = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        out = [dict(asdict(s), start=s.start - t0, end=s.end - t0,
                    dur=s.end - s.start, self=st[s.id]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, default=str)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered(children.get(s.id, []), s.start, s.end)
            for s in spans}


# ---------------------------------------------------------------- latency

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int, ladder=TAIL_LADDER) -> float | None:
    """Highest ladder percentile with at least ten samples beyond it."""
    for p in ladder:
        if beyond(n, p) >= 10:
            return p
    return None


def summarize(values) -> dict:
    """Median plus the highest percentile with ten samples beyond it."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None}
    p = tail_percentile(n)
    out["tail_p"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out


# ---------------------------------------------------------------- failures

class Ledger:
    """Attempted and failed operations. A raise or a failed output check
    is one failure; the reasons are kept for the run log."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, problems: list[str], label: str = "") -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.reasons.append(f"{label}: " + "; ".join(problems[:5]))
        return not problems

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
