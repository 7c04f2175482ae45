"""Pure helpers for the benchmark: percentiles, operation counting and
span arithmetic. Nothing here touches Spark, so the unit tests in
``test_perfbench.py`` cover it directly."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# samples that must lie beyond a percentile before it may be reported
MIN_BEYOND = 10
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)


def supports(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond the
    ``p``-th percentile."""
    return n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile. Refuses (ValueError) a
    percentile the sample cannot support; the median is the exception,
    reported from any non-empty sample."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    if p != 50.0 and not supports(len(samples), p):
        raise ValueError(
            f"p{p:g} needs {MIN_BEYOND} samples beyond it; have "
            f"{len(samples)} samples"
        )
    if p == 50.0:
        return statistics.median(samples)
    ordered = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(samples: list[float], ladder=TAIL_LADDER) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in ``ladder`` the sample
    supports, or None when even the lowest has too few samples."""
    for p in ladder:
        if supports(len(samples), p):
            return p, percentile(samples, p)
    return None


@dataclass
class Op:
    kind: str
    seconds: float  # wall time of the call
    ok: bool  # no exception and its output check passed
    cpu_s: float  # CPU time the run's processes spent during the call


@dataclass
class OpLog:
    """Every timed operation of a run."""

    ops: list[Op] = field(default_factory=list)

    def record(self, kind: str, seconds: float, ok: bool, cpu_s: float) -> None:
        self.ops.append(Op(kind, seconds, ok, cpu_s))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if not op.ok)

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def seconds(self, kind: str) -> list[float]:
        """Wall times of the successful operations of ``kind``."""
        return [op.seconds for op in self.ops if op.kind == kind and op.ok]

    def cpu_per_op(self, kind: str) -> float:
        """Mean CPU seconds per successful operation of ``kind``, the
        highest and lowest tenth of the samples left out (a JIT or GC
        burst lands on single calls)."""
        cpu = sorted(op.cpu_s for op in self.ops if op.kind == kind and op.ok)
        cut = len(cpu) // 10
        kept = cpu[cut : len(cpu) - cut]
        return sum(kept) / len(kept) if kept else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def clipped(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi]; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered
    by its direct children. Spans are dicts with ``id``, ``parent``
    (id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clipped(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out
