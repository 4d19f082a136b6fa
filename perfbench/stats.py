"""Percentiles, spans and self time."""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values, q: float) -> float:
    """Nearest-rank q-th percentile (0 < q ≤ 100) of a non-empty list."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(v) * q // 100))  # ceil(n·q/100)
    return float(v[int(rank) - 1])


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - int(max(1, -(-n * q // 100)))


def tail_percentile(n: int, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for q in candidates:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def median(values) -> float:
    v = sorted(values)
    m = len(v) // 2
    return float(v[m]) if len(v) % 2 else (v[m - 1] + v[m]) / 2.0


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, total, busy) jiffies over all CPUs, from /proc/stat;
    zeros where there is none. Busy is user, nice, system, irq and
    softirq time: it leaves out idle, I/O wait and steal."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    v += [0] * (8 - len(v))
    return v[7], sum(v), v[0] + v[1] + v[2] + v[5] + v[6]


def steal_share(before: tuple, after: tuple) -> float:
    """Share of CPU time the hypervisor took between two cpu_ticks()."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


CLK_TCK = os.sysconf("SC_CLK_TCK")  # jiffies per second in /proc/stat


def busy_seconds(before: tuple, after: tuple) -> float:
    """CPU seconds all CPUs ran work between two cpu_ticks(): time the
    hypervisor stole is not in it, so it does not grow with the host's
    load the way wall time does."""
    return (after[2] - before[2]) / CLK_TCK


class Tracer:
    """In-memory spans: (id, parent, request, layer, name, start, end).

    Spans nest through a per-thread stack. A span opened on a thread
    with an empty stack (a kernel running on a searcher's pool thread)
    takes as parent the root span of the request active on the thread
    that set `request()`, so pool work still attributes to its request.
    """

    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._request = None  # (request id, root span id)

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def request(self, rid, layer: str, name: str):
        """A root span that also marks `rid` as the active request."""
        return _Span(self, layer, name, rid=rid)

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace owner.attr by a spanned wrapper (idempotent)."""
        fn = getattr(owner, attr)
        if getattr(fn, "_perfbench_wrapped", False):
            return
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(layer, attr):
                return fn(*a, **kw)

        wrapped._perfbench_wrapped = True
        setattr(owner, attr, wrapped)


class _Span:
    __slots__ = ("t", "layer", "name", "rid", "sid", "parent", "start",
                 "prev_request")

    def __init__(self, tracer, layer, name, rid=None):
        self.t, self.layer, self.name, self.rid = tracer, layer, name, rid

    def __enter__(self):
        t = self.t
        stack = t._stack()
        self.sid = next(t._ids)
        if stack:
            self.parent, rid = stack[-1]
        elif t._request is not None and self.rid is None:
            rid, self.parent = t._request
        else:
            self.parent, rid = None, None
        if self.rid is None:
            self.rid = rid
        else:
            self.prev_request = t._request
            t._request = (self.rid, self.sid)
        stack.append((self.sid, self.rid))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        t._stack().pop()
        if t._request is not None and t._request[1] == self.sid:
            t._request = self.prev_request
        with t._lock:
            t.spans.append((self.sid, self.parent, self.rid, self.layer,
                            self.name, self.start, end))
        return False


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the
    part of its interval that its children cover. Children running in
    parallel are counted once (the union), so a parent waiting on a pool
    gets no self time for the wait."""
    kids: dict[int, list] = {}
    for sid, parent, _rid, _layer, _name, s, e in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((s, e))
    out: dict[str, float] = {}
    for sid, _parent, _rid, layer, _name, s, e in spans:
        own = (e - s) - _covered(kids.get(sid, ()), s, e)
        out[layer] = out.get(layer, 0.0) + own
    return out
