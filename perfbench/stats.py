"""Arithmetic the benchmark reports: percentiles, each operation's best
time, span self time, the storage ratio and the count of failed
operations. Pure Python, so it is tested without Spark."""

from __future__ import annotations

import math
from collections.abc import Sequence
from fractions import Fraction

# candidate percentiles for the tail, lowest first
LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def _rank(p: float, n: int) -> int:
    # exact arithmetic: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def tail_rank(n: int) -> float | None:
    """The highest percentile of ``LADDER`` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def fastest(passes: Sequence[dict[str, float]]) -> dict[str, float]:
    """Each operation's least time over the passes that timed it."""
    out: dict[str, float] = {}
    for times in passes:
        for op, t in times.items():
            out[op] = min(t, out.get(op, t))
    return out


def self_times(spans: Sequence[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    direct children cover. ``spans`` holds (id, parent id, start, end)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, start, end in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, start, end in spans:
        covered = 0.0
        cursor = start
        for c_start, c_end in sorted(children.get(sid, ())):
            c_start, c_end = max(c_start, cursor), min(c_end, end)
            if c_end > c_start:
                covered += c_end - c_start
                cursor = c_end
        out[sid] = (end - start) - covered
    return out


def storage_ratio(parquet_bytes: int, ndjson_bytes: int) -> float:
    """Bytes the table keeps on disk per byte of NDJSON fetched."""
    if ndjson_bytes <= 0:
        raise ValueError("no NDJSON bytes fetched")
    return parquet_bytes / ndjson_bytes


class Outcomes:
    """Operations attempted in a pass and the checks they failed. An
    operation counts as failed once, however many of its checks fail."""

    def __init__(self):
        self.ops: dict[str, bool] = {}  # name -> passed every check so far
        self.errors: list[str] = []

    def attempt(self, op: str) -> None:
        if op in self.ops:
            raise ValueError(f"operation {op!r} attempted twice")
        self.ops[op] = True

    def check(self, op: str, ok: bool, what: str) -> None:
        if op not in self.ops:
            raise ValueError(f"check of unattempted operation {op!r}")
        if not ok:
            self.ops[op] = False
            self.errors.append(f"{op}: {what}")

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for ok in self.ops.values() if not ok)
