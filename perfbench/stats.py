"""Pure arithmetic used by the benchmark: quantiles, the tail-percentile
rule, interval unions and span self time. No Spark here, so the
benchmark's own tests can check it directly."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

import numpy as np

TAIL_MIN_BEYOND = 10
_HD_GRID = 100_001


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def hd_median(values: Sequence[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of the order
    statistics, the i-th weighted by the Beta((n+1)/2, (n+1)/2) mass on
    [(i-1)/n, i/n]. Op latencies come from different ops, and the plain
    median of a few of them jumps when two ops near the middle swap rank;
    this estimate moves smoothly instead."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    # the Beta CDF by the trapezoid rule, the density scaled in log space
    # so that it does not underflow for large n
    t = np.linspace(0.0, 1.0, _HD_GRID)
    with np.errstate(divide="ignore"):
        log_pdf = (n - 1) / 2 * (np.log(t) + np.log1p(-t))
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(w @ x)


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile ``p`` that leaves at least ``TAIL_MIN_BEYOND``
    of ``n`` samples strictly above its rank, or None when ``n`` is too
    small for any percentile to qualify.

    The sample at percentile ``p`` is the one at rank ``ceil(p/100 * n)``
    (1-based, nearest-rank); ``n - rank`` samples lie beyond it."""
    for p in range(99, 0, -1):
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def _rank(p: int, n: int) -> int:
    return -(-p * n // 100)  # ceil(p * n / 100) in integers


def nearest_rank(values: Sequence[float], p: int) -> float:
    """Nearest-rank percentile ``p`` (1..100) of ``values``."""
    s = sorted(values)
    return float(s[max(1, _rank(p, len(s))) - 1])


def tail(values: Sequence[float]) -> tuple[int, float]:
    """(percentile, value) of the tail rule. Below 21 samples the rule
    gives no percentile above the median; the median (``hd_median``) is
    reported then."""
    p = tail_percentile(len(values)) or 0
    if p <= 50:
        return 50, hd_median(values)
    return p, nearest_rank(values, p)


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge closed intervals into disjoint sorted ones."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``intervals``."""
    return sum(e - s for s, e in union(intervals))


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def exclusive(spans: Iterable[tuple[float, float, int, str]], lo: float, hi: float) -> dict[str, float]:
    """Split [lo, hi] among spans given as (start, end, depth, key): each
    instant goes to the deepest span covering it (the latest started on a
    tie). Spans overlapping in parallel threads therefore share the time
    instead of counting it twice, and the parts sum to ``hi - lo``
    whenever a depth-0 span covers the whole interval."""
    spans = [(max(s, lo), min(e, hi), d, k) for s, e, d, k in spans if min(e, hi) > max(s, lo)]
    cuts = sorted({lo, hi, *(s for s, _, _, _ in spans), *(e for _, e, _, _ in spans)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [(d, s, k) for s, e, d, k in spans if s <= a and e >= b]
        if live:
            k = max(live)[2]
            out[k] = out.get(k, 0.0) + (b - a)
    return out
