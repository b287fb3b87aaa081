"""Summary statistics and host sampling for the benchmark.

Pure helpers, no Spark: the median and tail rules, the update-latency
bookkeeping of the open-loop workload, and the peak-of-sum memory sampler.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
from dataclasses import dataclass, field

# p70 rather than p75: a run's 35-99 lookups then always land on the same
# rung, so read_tail_s is one percentile across runs
TAIL_LADDER = (50.0, 70.0, 90.0, 95.0, 99.0, 99.9)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs, min_beyond: int = 10, ladder=TAIL_LADDER) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least
    ``min_beyond`` samples strictly beyond its nearest-rank position.
    Fewer than ``2 * min_beyond`` samples support no tail: (nan, nan)."""
    xs = sorted(xs)
    n = len(xs)
    best = None
    for p in ladder:
        rank = math.ceil(n * p / 100.0)  # nearest rank, 1-based
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, float(xs[rank - 1]))
    return best if best else (float("nan"), float("nan"))


@dataclass
class Batch:
    """One writer update: wall-clock start and publish-return end, and the
    files (by key) whose data the published version contains."""
    start: float
    end: float
    keys: frozenset


@dataclass
class Arrival:
    key: str
    due: float       # when the file was scheduled to land
    landed: float    # when the rename into the tree happened


@dataclass
class ArrivalStats:
    latency: dict = field(default_factory=dict)   # key -> publish end - due
    detect: dict = field(default_factory=dict)    # key -> batch start - due
    queue: dict = field(default_factory=dict)     # key -> wait behind a running batch
    backlog_max: int = 0
    busy_ratio: float = 0.0
    lag_max: float = 0.0


def arrival_stats(arrivals: list[Arrival], batches: list[Batch],
                  window: tuple[float, float]) -> ArrivalStats:
    """Open-loop bookkeeping. Each arrival is charged from its due time to
    the end of the first batch that contains it; ``queue`` is the part of
    that wait spent while an earlier batch still ran; the backlog is the
    number of landed, unpublished files at any instant; ``busy_ratio`` is
    the share of ``window`` covered by batches."""
    out = ArrivalStats()
    batches = sorted(batches, key=lambda b: b.start)
    for a in arrivals:
        b = next((b for b in batches if a.key in b.keys), None)
        if b is None:
            continue
        out.latency[a.key] = b.end - a.due
        out.detect[a.key] = b.start - a.due
        prev_end = max((p.end for p in batches if p.start < b.start), default=a.due)
        out.queue[a.key] = max(0.0, min(prev_end, b.start) - a.due)
        out.lag_max = max(out.lag_max, a.landed - a.due)
    events = []
    for a in arrivals:
        if a.key in out.latency:
            events.append((a.landed, 1))
            events.append((a.due + out.latency[a.key], -1))
    level = 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        level += d
        out.backlog_max = max(out.backlog_max, level)
    lo, hi = window
    busy = sum(max(0.0, min(b.end, hi) - max(b.start, lo)) for b in batches)
    out.busy_ratio = busy / (hi - lo) if hi > lo else 0.0
    return out


# ---------------------------------------------------------------------------
# /proc sampling (Linux)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from one /proc scan."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    f = _stat_fields(pid)
    return int(f[21]) * _PAGE if f else 0


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` and its reaped children."""
    f = _stat_fields(pid)
    if not f:
        return 0.0
    return sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide steal time so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def peak_of_sum(samples) -> float:
    """The largest per-instant total of ``samples``, an iterable of
    {pid: bytes} maps taken at one instant each. Not a sum of per-process
    peaks: two processes peaking at different instants do not add up."""
    return max((sum(s.values()) for s in samples), default=0.0)


class MemorySampler:
    """Samples the resident sets of ``roots()`` and their descendants every
    ``interval`` seconds on one thread and keeps the peak of their sum."""

    def __init__(self, roots, interval: float = 0.1, read_rss=rss_bytes, tree=descendants):
        self._roots, self._interval = roots, interval
        self._read_rss, self._tree = read_rss, tree
        self.peak_bytes = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def sample(self) -> dict[int, int]:
        pids = {p for r in self._roots() for p in self._tree(r)}
        snap = {p: self._read_rss(p) for p in pids}
        self.peak_bytes = max(self.peak_bytes, peak_of_sum([snap]))
        return snap

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
