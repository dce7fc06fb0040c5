"""Measurement helpers for the benchmark: percentiles, failure
tallies, span tracing with self time, and host sampling (RSS, steal).

Nothing here imports Spark or the engine, so the helpers are unit
tested on their own (``python -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's
    default "linear" method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """Median and p95 of a latency sample with the sample count and the
    number of samples beyond p95 (a tail read from fewer than ten is
    noise)."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    out["p95"] = percentile(xs, 95.0)
    out["beyond_p95"] = sum(1 for x in xs if x > out["p95"])
    return out


# ---------------------------------------------------------------------------
# failures
# ---------------------------------------------------------------------------

@dataclass
class Tally:
    """Attempted / failed operations. An operation fails when it
    raises, when the engine reports errors on it, or when its result
    disagrees with the expected one. Each failure keeps a one-line
    reason so a run can say what went wrong."""

    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(reason or "failed")
        return ok

    def check(self, what: str, got, expected) -> bool:
        """Record a correctness comparison; a mismatch is a failure."""
        return self.record(got == expected, f"{what}: got {got!r}, expected {expected!r}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def same_ranking(got, expected, tol: float = 1e-6) -> str | None:
    """Compare two ranked lists of ``(key, score)``. Returns None when
    they are rank-identical (same keys in the same order, scores within
    ``tol``), else a one-line description of the first difference."""
    if len(got) != len(expected):
        return f"{len(got)} hits, expected {len(expected)}"
    for rank, ((gk, gs), (ek, es)) in enumerate(zip(got, expected)):
        if gk != ek:
            return f"rank {rank}: {gk!r}, expected {ek!r}"
        if gs is not None and es is not None and abs(gs - es) > tol:
            return f"rank {rank} {gk!r}: score {gs!r}, expected {es!r}"
    return None


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    phase: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - union_length(kids)
    return out


def uncovered_fraction(windows, spans) -> float:
    """Share of the wall time in ``windows`` (list of (start, end))
    that no span covers — the "other" bucket of a breakdown."""
    wall = sum(e - s for s, e in windows)
    if wall <= 0:
        return 0.0
    covered = 0.0
    for ws, we in windows:
        covered += union_length(
            (max(sp.start, ws), min(sp.end, we))
            for sp in spans
            if sp.end > ws and sp.start < we
        )
    return max(0.0, (wall - covered) / wall)


class Tracer:
    """In-memory span recorder. ``span(name)`` is a context manager;
    nesting on one thread sets the parent. Each span carries the
    current ``request`` id and ``phase`` label. Spans are only recorded
    while ``enabled`` is true, so one process can interleave traced and
    untraced operations."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.enabled = False
        self.request: int | None = None
        self.phase = "setup"
        self.spans: list[Span] = []
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn, counter=None, before=None):
        """Wrap ``fn`` so each call records a span. ``before(args)``
        may capture state ahead of the call; ``counter(args, result,
        state)`` derives the span's counts."""
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                state = before(args) if before is not None else None
                result = fn(*args, **kwargs)
                if counter is not None:
                    sp.counts.update(counter(args, result, state))
                return result

        traced.__wrapped__ = fn
        return traced


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> "Span | _SpanCtx":
        t = self.tracer
        if not t.enabled:
            return self
        stack = t._stack()
        with t._lock:
            sid = t._next_id
            t._next_id += 1
        self.span = Span(
            sid, self.name, t.clock(), 0.0,
            stack[-1].span_id if stack else None, t.request, t.phase,
        )
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is None:
            return
        self.span.end = self.tracer.clock()
        stack = self.tracer._stack()
        stack.pop()
        self.tracer.spans.append(self.span)


# ---------------------------------------------------------------------------
# host sampling
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of a process tree on a background thread
    and keeps the peak."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = sum(rss_bytes(p) for p in process_tree(self.root))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak


def cpu_stat() -> tuple[int, int] | None:
    """(total jiffies, steal jiffies) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:]
    except OSError:
        return None
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def steal_fraction(before, after) -> float | None:
    """Share of CPU time the hypervisor stole between two samples."""
    if before is None or after is None:
        return None
    dt = after[0] - before[0]
    return (after[1] - before[1]) / dt if dt > 0 else None
