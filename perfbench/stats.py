"""Pure-Python statistics used by the benchmark (no Spark, unit-tested)."""

from __future__ import annotations

from dataclasses import dataclass

TAIL_PCT = 90


def tail(values: list[float]) -> tuple[float, int, int]:
    """Nearest-rank ``TAIL_PCT`` percentile, as ``(value, samples beyond
    it, n)``: the smallest sample with at least ``TAIL_PCT`` percent of the
    samples at or below it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, (n * TAIL_PCT + 99) // 100)
    return xs[rank - 1], n - rank, n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None for a root


def exclusive_times(spans: list[Span]) -> list[float]:
    """Wall time owned by each span: at every instant the time goes to the
    innermost spans open then (split evenly when several run concurrently
    on different threads), so the results add up to the union of all spans.

    A span owns an instant when it is open and none of its children is.
    """
    events: list[tuple[float, int, int]] = []
    for i, s in enumerate(spans):
        events.append((s.start, 1, i))
        events.append((s.end, 0, i))
    # at equal times close before open, so back-to-back spans don't overlap
    events.sort(key=lambda e: (e[0], e[1]))
    own = [0.0] * len(spans)
    open_children = [0] * len(spans)
    is_open = [False] * len(spans)
    leaves: set[int] = set()
    last = None
    for t, kind, i in events:
        if last is not None and leaves and t > last:
            share = (t - last) / len(leaves)
            for j in leaves:
                own[j] += share
        last = t
        p = spans[i].parent
        if kind == 1:
            is_open[i] = True
            leaves.add(i)
            if p is not None and is_open[p]:
                open_children[p] += 1
                leaves.discard(p)
        else:
            is_open[i] = False
            leaves.discard(i)
            if p is not None and is_open[p]:
                open_children[p] -= 1
                if open_children[p] == 0:
                    leaves.add(p)
    return own


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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
