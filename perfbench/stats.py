"""Summary statistics and span arithmetic used by the benchmark."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10
# fewest samples for a tail: more than TAIL_BEYOND at or below it than
# above it, so the tail sample lies above the median
TAIL_MIN_SAMPLES = 2 * TAIL_BEYOND + 2


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    With n sorted samples that is the (n - TAIL_BEYOND)-th smallest, whose
    percentile is 100 * (n - TAIL_BEYOND) / n. Returns (value, percentile);
    raises with fewer than ``TAIL_MIN_SAMPLES`` samples."""
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        raise ValueError(f"need {TAIL_MIN_SAMPLES} samples for a tail, got {n}")
    return float(sorted(xs)[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent``, ``start`` and ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clip(kids.get(s["id"], []), s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
