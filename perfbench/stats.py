"""Summary statistics under the benchmark's reporting rules.

A timing is reported as its median plus the highest percentile that
still has at least ten samples beyond it, together with the sample
count; with fewer than 20 samples only the median is reported.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def median(values: Sequence[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of an empty sample")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    of ``n`` samples strictly beyond its rank, or None."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values: Sequence[float]) -> dict:
    """``{"n", "p50", "tail_p", "tail"}``; tail fields are None when
    the sample is too small for any tail percentile."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": median(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def quarter_medians(
    samples: Sequence[tuple[float, float]], t0: float, t1: float
) -> tuple[float | None, float | None]:
    """Medians of the ``(start_time, value)`` samples that started in
    the first and in the last quarter of the window ``[t0, t1]``, so
    growth over the run reads as growth rather than as noise."""
    q = (t1 - t0) / 4.0
    first = [v for t, v in samples if t0 <= t < t0 + q]
    last = [v for t, v in samples if t1 - q <= t <= t1]
    return (median(first) if first else None, median(last) if last else None)


def fmt_summary(name: str, unit: str, values: Sequence[float], scale: float = 1.0) -> str:
    s = summarize([v * scale for v in values])
    if s["n"] == 0:
        return f"{name}: no samples"
    line = f"{name}: p50 {s['p50']:.4f} {unit}"
    if s["tail_p"] is not None:
        line += f", p{s['tail_p']:g} {s['tail']:.4f} {unit}"
    return line + f" (n={s['n']})"
