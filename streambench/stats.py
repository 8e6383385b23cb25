"""Pure measurement helpers: percentiles, freshness, span self time.

Nothing here touches Spark or the engine, so the self-tests in
``test_streambench.py`` cover every rule the benchmark reports with.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile of ``values`` (0 for an empty list)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = max(1, math.ceil(pct / 100.0 * len(vals)))
    return float(vals[min(rank, len(vals)) - 1])


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile on TAIL_LADDER that leaves at least ten
    samples beyond it, or None when even the median does not."""
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= 10.0 - 1e-9:
            return pct
    return None


@dataclass
class Freshness:
    """Per-record put→visible latencies plus the records that failed:
    never seen, or counted more often than they were put (duplicates)."""

    latencies: list[float] = field(default_factory=list)
    unseen: int = 0
    duplicates: int = 0

    @property
    def failed(self) -> int:
        return self.unseen + self.duplicates


def freshness(
    due: dict[object, list[float]],
    reads: list[tuple[float, dict[object, int]]],
) -> Freshness:
    """Latency of every record from its due time to the first read that
    covers it.

    ``due[s]`` lists the due times of the records put on ordered
    partition ``s`` (a shard), in delivery order. ``reads`` are
    ``(t, counts)`` observations of the view: ``counts[s]`` records of
    ``s`` visible at ``t``. Records of one partition become visible in
    order and exactly once, so a count ``c`` covers records ``0..c-1``.
    A count above the number of records due by then can only come from
    a duplicated delivery; the largest such excess per partition counts
    as failed records, as do records no read ever covers.
    """
    out = Freshness()
    ordered = sorted(reads, key=lambda r: r[0])
    for part, times in due.items():
        seen = 0
        excess = 0
        for t, counts in ordered:
            c = counts.get(part, 0)
            due_by_t = _count_le(times, t)
            excess = max(excess, c - due_by_t)
            while seen < min(c, due_by_t):
                out.latencies.append(t - times[seen])
                seen += 1
        out.unseen += len(times) - seen
        out.duplicates += excess
    return out


def _count_le(sorted_times: list[float], t: float) -> int:
    import bisect

    return bisect.bisect_right(sorted_times, t)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def coverage(intervals, windows) -> float:
    """Share of the total length of the disjoint ``windows`` that the
    union of ``intervals`` covers (0 when the windows are empty)."""
    windows = [(s, e) for s, e in windows if e > s]
    total = sum(e - s for s, e in windows)
    if total <= 0:
        return 0.0
    ivs = list(intervals)
    covered = sum(
        union_length((max(a, s), min(b, e)) for a, b in ivs)
        for s, e in windows
    )
    return covered / total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps counted
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.span_id, [])
        )
        out[s.span_id] = max(0.0, s.duration - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out
