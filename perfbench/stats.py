"""Pure statistics behind the benchmark: tail percentile, span self time,
job-to-op attribution and the parent-versus-change verdict.

Nothing here imports Spark, so the rules are tested on synthetic inputs
(``perfbench/tests``).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

MIN_BEYOND = 10  # samples that must lie above a reported tail percentile
MIN_PAIRS = 10  # parent/change pairs a verdict needs
WIN_SHARE = 0.9  # share of pairs a change must win to claim a gain


def tail_percentile(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[int, float, int]:
    """The highest whole percentile above the median with at least
    ``min_beyond`` samples strictly beyond its rank (nearest-rank
    definition).

    Returns ``(percentile, value, samples_beyond)``.  When no percentile
    above the median qualifies, the tail is not resolved and the median
    itself is returned, as ``statistics.median`` gives it (the same value
    as ``latency_p50_s``), with the number of samples above its rank.
    """
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return 50, statistics.median(xs), n - math.ceil(n / 2)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), as ``statistics.quantiles``
    gives them with its default method."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


@dataclass(frozen=True)
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    op_id: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def attribute(times: list[float], spans: list[Span]) -> list[Span | None]:
    """For each event time, the innermost span whose window contains it.

    Operations run one at a time, so at most one top-level span contains a
    given instant and the attribution is exact; an event outside every span
    (between operations) maps to None.  Ties at a shared boundary go to the
    span that starts there.
    """
    depth: dict[int, int] = {}
    by_id = {s.span_id: s for s in spans}

    def _depth(s: Span) -> int:
        if s.span_id not in depth:
            depth[s.span_id] = 0 if s.parent is None else 1 + _depth(by_id[s.parent])
        return depth[s.span_id]

    out: list[Span | None] = []
    for t in times:
        best = None
        for s in spans:
            if s.start <= t <= s.end:
                key = (_depth(s), s.start)
                if best is None or key > (_depth(best), best.start):
                    best = s
        out.append(best)
    return out


@dataclass(frozen=True)
class Verdict:
    parent_q: tuple[float, float, float]
    change_q: tuple[float, float, float]
    pairs: int
    won: float
    verdict: str


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> Verdict:
    """Judge one metric of one workload from paired runs.

    ``parent[i]`` and ``change[i]`` form pair i.  A gain needs at least
    ``WIN_SHARE`` of the pairs won (ties count for neither side) and a
    median difference larger than the parent's interquartile range.  A
    change whose median is worse than the parent's by more than ``bound``
    (a share of the parent's median) is worse.  When the parent's own
    spread exceeds the bound, "unchanged" cannot be told apart from noise
    and the metric is unresolved, unless every change run beats every
    parent run.
    """
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    if len(parent) != len(change):
        raise ValueError("parent and change need the same number of runs")
    sign = 1.0 if better == "higher" else -1.0
    n = len(parent)
    pq, cq = quartiles(parent), quartiles(change)
    won = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0) / n if n else 0.0
    if n < MIN_PAIRS:
        return Verdict(pq, cq, n, won, "unresolved")
    gain = sign * (cq[1] - pq[1])
    iqr = pq[2] - pq[0]
    if won >= WIN_SHARE and gain > iqr:
        result = "improved"
    elif -gain > bound * abs(pq[1]):
        result = "worse"
    elif relative_spread(parent) > bound and not (
        min(sign * c for c in change) > max(sign * p for p in parent)
    ):
        result = "unresolved"
    else:
        result = "unchanged"
    return Verdict(pq, cq, n, won, result)
