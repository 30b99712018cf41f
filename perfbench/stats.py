"""Order statistics and span arithmetic shared by the benchmark's parts."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it. Returns 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[_rank(len(s), p) - 1])


def _rank(n: int, p: float) -> int:
    # the epsilon keeps 99.9 % of 10000 at rank 9990 despite float rounding
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank ``p``."""
    return n - _rank(n, p) if n else 0


def highest_supported_percentile(
    n: int, candidates=(99.9, 99.0, 90.0, 50.0)
) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND`` samples
    beyond it, or None when even the median is not supported."""
    for p in candidates:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of that interval
    its direct children cover. Spans are dicts with ``id``, ``parent``
    (``None`` for a root), ``t0`` and ``t1``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"])
        - _covered(children.get(s["id"], []), s["t0"], s["t1"])
        for s in spans
    }

