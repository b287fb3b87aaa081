"""Spans around the benchmark's calls into each layer, and the per-span
task metrics of Spark's event log.

Every run times its calls with these spans; they cost a clock read and a
list append. With ``detail`` on (traced runs), a span also sets the Spark
job group of its thread, so the event log can attribute each job, and
thereby each task, to the span that launched it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_NAMES = (
    "sources.read", "summary.build", "summary.merge", "interpolation.run",
    "interpolation.write", "spatial.estimate", "atlas.ts", "atlas.eape",
    "atlas.publish", "streaming.refresh", "reader.read",
)


@dataclass
class Span:
    id: int
    name: str
    start: float     # wall clock, seconds
    end: float
    parent: int | None
    update: int | None
    thread: str
    detail: bool     # whether a job group was set

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.detail = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, update: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        detail = self.detail and self.spark is not None
        if detail:
            self.spark.sparkContext.setJobGroup(f"span-{sid}", name)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if detail:
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(f"span-{parent}", "")
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, update,
                                       threading.current_thread().name, detail))

    def of(self, name: str, update=None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (update is None or s.update == update)]

    def dump(self, path: str, span_metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "span_metrics": {str(k): v for k, v in span_metrics.items()}}, f)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span totals from Spark's JSON event log: jobs, tasks, task
    seconds, shuffle bytes written, spill bytes and JVM GC seconds, keyed
    by the span id carried in the job group."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def slot(sid: int) -> dict:
        return out.setdefault(sid, {"jobs": 0, "tasks": 0, "task_s": 0.0,
                                    "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0})

    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
                   if n.startswith("events_") or n.startswith("local-"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    slot(sid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_span:
                    m = ev.get("Task Metrics") or {}
                    s = slot(stage_span[ev["Stage ID"]])
                    s["tasks"] += 1
                    s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
