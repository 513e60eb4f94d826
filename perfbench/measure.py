"""Pure-Python measurement helpers: percentiles under the sample-count
rule, metric-name validation, in-memory spans with self-time, generator
lateness accounting and a process-tree peak-RSS sampler.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Percentiles a run may report, highest first.  A percentile is only
# reported when at least ten samples lie beyond it.
PERCENTILE_LADDER = (99.0, 90.0, 75.0, 50.0)
MIN_SAMPLES_BEYOND = 10


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if len(name) > 64 or not METRIC_NAME_RE.fullmatch(name) or not name[0].isalnum():
        raise ValueError(f"bad metric name: {name!r}")
    return name


def samples_beyond(n: int, pct: float) -> int:
    """Number of the ``n`` sorted samples ranked after the ``pct``-th
    percentile's nearest rank, ceil(n * pct / 100), computed exactly."""
    hundredths = round(pct * 100)
    return n - (-(-n * hundredths // 10_000))


def supported(n: int, pct: float) -> bool:
    return samples_beyond(n, pct) >= MIN_SAMPLES_BEYOND


def highest_supported_percentile(n: int) -> float | None:
    """The highest percentile of ``PERCENTILE_LADDER`` that ``n`` samples
    support with at least ten samples beyond it, or None if even the
    median is unsupported."""
    for pct in PERCENTILE_LADDER:
        if supported(n, pct):
            return pct
    return None


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (pct in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Phases:
    """Wall time of a run's consecutive phases, for the run details."""

    def __init__(self) -> None:
        self.done: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.done[name] = round(now - self._t, 3)
        self._t = now


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    idx: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.idx, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.idx] = s.duration - _covered(kids)
    return out


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    """Sum of span self times per layer (the span-name prefix)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        out[layer] = out.get(layer, 0.0) + st[s.idx]
    return out


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and
    cost one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(
            name=name,
            start=time.perf_counter(),
            end=0.0,
            parent=stack[-1] if stack else None,
            request=request or (self.spans[stack[-1]].request if stack else ""),
            idx=len(self.spans),
        )
        self.spans.append(s)
        stack.append(s.idx)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)


# ---------------------------------------------------------------------------
# open-loop generator lateness
# ---------------------------------------------------------------------------


class Lateness:
    """Records, for each scheduled emission, how late it actually went
    out.  Emissions that went out early count as 0 late."""

    def __init__(self) -> None:
        self.late_s: list[float] = []

    def record(self, due: float, actual: float) -> None:
        self.late_s.append(max(0.0, actual - due))

    def p99_ms(self) -> float:
        return percentile(self.late_s, 99.0) * 1e3 if self.late_s else 0.0


def schedule(start: float, interval: float, k: int) -> float:
    """Due time of the k-th emission of a fixed-rate schedule.  The
    schedule never slips: a late emission does not move later ones."""
    return start + k * interval


# ---------------------------------------------------------------------------
# peak RSS of this process's descendants
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Proportional resident set size: pages shared between processes
    (a JVM and a child it has just forked) are split between them, so
    summing over a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed RSS of every descendant of this process (the
    Spark JVM and its Python workers; the benchmark process itself,
    which also hosts the DuckDB oracle, is excluded)."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = sum(rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
