"""Pure statistics helpers of the benchmark (no I/O, unit-tested)."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def iqr_frac(values) -> float:
    """Inter-quartile range as a share of the median — the spread
    measure the benchmark is judged by (``statistics.quantiles``
    with n=4). 0 for fewer than two values."""
    values = list(values)
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def calibrate(raw: float, c_ref: float, c_run: float) -> float:
    """Scale a time measured on a host whose timing loop took
    ``c_run`` to the reference host whose loop took ``c_ref``: a host
    half as fast (loop twice as slow) halves the time."""
    return raw * (c_ref / c_run)


def per_kind_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: median(v) for k, v in samples.items() if v}


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean, over call kinds, of each kind's median. Every
    kind weighs the same whether it takes 0.2 s or 3 s, unlike a
    median over the mixed set, which lands on whichever kind sits in
    the middle of the sort."""
    meds = per_kind_medians(samples)
    return math.exp(sum(math.log(m) for m in meds.values()) / len(meds))


def tail(values, beyond: int = 10) -> tuple[float, float] | None:
    """The value at the highest percentile that still has at least
    ``beyond`` samples above it, and that percentile (0-100). None
    when there are too few samples for any such percentile."""
    xs = sorted(values)
    idx = len(xs) - 1 - beyond
    if idx < 0:
        return None
    return xs[idx], 100.0 * (idx + 1) / len(xs)
