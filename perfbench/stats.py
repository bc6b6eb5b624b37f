"""Small statistics helpers shared by the workloads and the report."""

from __future__ import annotations

import math
import statistics

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, want: int = 90, beyond: int = 10) -> int | None:
    """The highest whole percentile, at most ``want``, that leaves at
    least ``beyond`` of ``n`` samples above it — ``None`` when ``n`` is
    too small for any percentile to have that many samples beyond it.

    A percentile read from fewer samples beyond it than ``beyond`` is
    set by one or two outliers, so it is not reported."""
    if n <= beyond:
        return None
    q = math.floor(100.0 * (n - beyond) / n)
    return min(want, q)


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: every order statistic
    weighted by the mass the Beta((n+1)/2, (n+1)/2) density puts on its
    slice of [0, 1]. Unlike the sample median it does not jump from one
    operation's latency to the next when the middle of a small sample
    has a gap."""
    xs = np.sort(values)
    n, k = len(xs), 1000  # k midpoint-rule steps per order statistic
    t = (np.arange(n * k) + 0.5) / (n * k)
    w = (t * (1 - t)) ** ((n - 1) / 2)  # the density, unnormalised
    return float(w.reshape(n, k).sum(axis=1) @ xs / w.sum())


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """Median (Harrell-Davis) over operations of each operation's own
    median across passes, so one slow pass moves an operation's number
    only if that pass is the majority."""
    return hd_median([statistics.median(v) for v in samples.values() if v])

