"""Measurement plumbing: op accounting, percentiles, spans, memory sampling.

Nothing here imports Spark or the engine, so the self-tests run in plain
Python.
"""

from __future__ import annotations

import math
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ------------------------------------------------------------- op accounting


class CheckFailed(Exception):
    """An op finished but its result differs from the numpy reference."""


@dataclass
class OpLog:
    """Latency and outcome of every timed op. An op fails when it raises or
    when its result check raises CheckFailed; both count in `failed`."""

    latencies_s: list[float] = field(default_factory=list)
    failed: int = 0
    items: int = 0
    start: float | None = None
    end: float | None = None

    @property
    def attempted(self) -> int:
        return len(self.latencies_s)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def run(self, op, on_error=None) -> bool:
        """Time one op. `op()` returns the number of items it completed and
        raises on failure. Returns True when the op succeeded."""
        t0 = time.perf_counter()
        if self.start is None:
            self.start = t0
        ok = True
        try:
            n = op()
        except Exception as e:  # an op boundary: record and keep measuring
            ok = False
            n = 0
            if on_error is not None:
                on_error(e)
        t1 = time.perf_counter()
        self.end = t1
        self.latencies_s.append(t1 - t0)
        if ok:
            self.items += n
        else:
            self.failed += 1
        return ok

    @property
    def region_s(self) -> float:
        return (self.end - self.start) if self.attempted else 0.0


def percentile(samples: list[float], p: float) -> float:
    """p-th percentile by linear interpolation between order statistics
    (the 'inclusive' method of statistics.quantiles)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(samples: list[float], p: float) -> int:
    """How many samples lie strictly above the p-th percentile."""
    v = percentile(samples, p)
    return sum(1 for x in samples if x > v)


def tail_percentile(samples: list[float], candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the median has fewer than ten beyond it."""
    for p in candidates:
        if samples_beyond(samples, p) >= 10:
            return p
    return None


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    t0: float  # epoch seconds, same clock as the Spark event log
    t1: float
    parent: int | None


def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def clip(iv: tuple[float, float], window: tuple[float, float]) -> tuple[float, float] | None:
    a, b = max(iv[0], window[0]), min(iv[1], window[1])
    return (a, b) if b > a else None


def self_intervals(span: tuple[float, float], children: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Where a span's self time lies: its interval minus the union of its
    children's intervals, each child clipped to the span first. Their total
    length is the span's self time, which lies in [0, duration]."""
    kids = merge_intervals([c for c in (clip(k, span) for k in children) if c])
    out, cur = [], span[0]
    for a, b in kids:
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


class Tracer:
    """Records spans around the benchmark's calls into engine layers. When
    `tag` is set, each span also names the Spark jobs it issues
    (setJobDescription), which is how the event-log reader assigns tasks to
    layers. With `enabled` False it records nothing and tags nothing."""

    def __init__(self, enabled: bool = False, tag=None):
        self.enabled = enabled
        self.tag = tag
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        prev_layer = self.spans[parent].layer if parent is not None else None
        self.spans.append(Span(name or layer, layer, time.time(), math.nan, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self.tag:
            self.tag(layer)
        try:
            yield
        finally:
            self.spans[idx].t1 = time.time()
            self._stack.pop()
            if self.tag:
                self.tag(prev_layer)

    def count(self, key: str, v: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + v

    def layer_self_intervals(self, windows: list[tuple[float, float]]) -> dict[str, list[tuple[float, float]]]:
        """layer -> self-time intervals of its spans, clipped to `windows`."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.t0, s.t1))
        out: dict[str, list[tuple[float, float]]] = {}
        for i, s in enumerate(self.spans):
            own = self_intervals((s.t0, s.t1), kids.get(i, []))
            for w in windows:
                out.setdefault(s.layer, []).extend(c for c in (clip(iv, w) for iv in own) if c)
        return out


# ------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    """ppid -> pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def become_subreaper() -> bool:
    """Make this process the child subreaper of its descendants (Linux
    PR_SET_CHILD_SUBREAPER): a process whose parent exits is re-parented to
    this one instead of to init, so stop_children() still finds and waits for
    it. Spark's Python daemon, for one, is a child of the driver JVM."""
    try:
        import ctypes

        return ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def stop_children(grace_s: float = 10.0, limit_s: float = 30.0) -> list[int]:
    """Wait for every child of this process to exit and reap it. Children
    still running are sent SIGTERM at once and SIGKILL after `grace_s`.
    Returns the pids still present after `limit_s` (empty when all ended)."""
    me = os.getpid()
    t0 = time.monotonic()
    sent: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return []
        kids = _children_map().get(me, [])
        elapsed = time.monotonic() - t0
        if elapsed >= limit_s:
            return kids
        sig = signal.SIGKILL if elapsed >= grace_s else signal.SIGTERM
        for pid in kids:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


# ------------------------------------------------------------ peak memory


def _tree_rss_bytes(root: int) -> int:
    children = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the summed resident memory of this process and all of its
    descendants (driver JVM, Python daemon and workers) every `interval_s`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
