"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math

#: Percentiles a tail latency may be reported at, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)
#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so 99.9 % of 10 000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it. ``inf`` entries (failed ops) sort last."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def hd_median(values) -> float:
    """Harrell-Davis median: the mean of all order statistics weighted by
    the probability that a Beta((n+1)/2, (n+1)/2) variable falls in
    ((i-1)/n, i/n]. It estimates the same population median as the sample
    median, but an op mix made of a few latency clusters no longer makes it
    jump between the clusters' edges from run to run."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    a = (n + 1) / 2.0
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = 256 * n  # midpoint rule; the beta density is smooth for n >= 1
    weights = [0.0] * n
    for j in range(steps):
        t = (j + 0.5) / steps
        density = math.exp((a - 1) * (math.log(t) + math.log1p(-t)) - log_norm)
        weights[min(int(t * n), n - 1)] += density
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n`` samples
    strictly beyond its rank; ``None`` when even the median has fewer."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def latency_summary(latencies) -> dict:
    """Median plus the highest reportable tail percentile, with the count."""
    n = len(latencies)
    out = {"n": n, "p50": hd_median(latencies)}
    tail = tail_percentile(n)
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(latencies, tail)
    return out
