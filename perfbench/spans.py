"""Spans recorded from the benchmark's own code around calls into the
program's layers, and the Spark event-log parser that attributes each Spark
job (and its tasks) to the span that launched it.

A span sets one Spark job group while it is the innermost open span, so a
job started inside it carries the span's id in the event log. Jobs whose
group the program overrides (streaming queries set their own) fall back to
the innermost span open at the job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass

from perfbench.stats import self_times

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory spans of one Spark session; without a session every call
    is a no-op, which is how untraced passes run."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, time.time(), parent=parent)
        self.spans.append(s)
        self._open.append(s.id)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_by_name(self, root: Span) -> dict[str, float]:
        """Self seconds summed per span name over ``root``'s subtree."""
        spans = self.subtree(root)
        own = self_times([(s.id, s.parent, s.start, s.end) for s in spans])
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + own[s.id]
        return out

    def subtree(self, root: Span) -> list[Span]:
        keep = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in keep:
                keep.add(s.id)
                out.append(s)
        return out


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace ``getattr(owner, attr)`` by a traced wrapper named ``name``
    for each (owner, attr, name), restoring the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, tracer.wrap(original, name))
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


@dataclass
class ExecStats:
    jobs: int = 0
    task_core_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single finished application logged in ``log_dir``."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {len(apps)}")
    with open(os.path.join(log_dir, apps[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def exec_by_span(events: list[dict], spans: list[Span], root: Span) -> tuple[dict[int, ExecStats], int]:
    """Per-span jobs, task core-seconds, shuffle, input and spill bytes of
    the jobs submitted while ``root`` was open.

    Returns the stats keyed by span id and the number of those jobs that
    matched no span of ``root``'s subtree."""
    ids = {s.id for s in spans}
    stage_span: dict[int, int] = {}
    out: dict[int, ExecStats] = {}
    unmatched = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev.get("Submission Time", 0) / 1000.0
            if not root.start <= submitted <= root.end:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            sid = None
            if group.startswith(GROUP_PREFIX):
                sid = int(group[len(GROUP_PREFIX):])
            if sid not in ids:
                sid = _innermost_at(spans, submitted)
            if sid is None:
                unmatched += 1
                continue
            out.setdefault(sid, ExecStats()).jobs += 1
            for stage in ev.get("Stage IDs", []):
                stage_span.setdefault(stage, sid)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if sid is None or not metrics:
                continue
            st = out.setdefault(sid, ExecStats())
            st.task_core_s += metrics.get("Executor Run Time", 0) / 1000.0
            st.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.input_bytes += (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
    return out, unmatched


def _innermost_at(spans: list[Span], t: float) -> int | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.id if best else None
