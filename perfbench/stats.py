"""Summary statistics used by the benchmark report.

Every timing is reported as a true median (``statistics.median``: the mean
of the two middle samples for an even count) together with its sample
count. A tail is the highest percentile that still has at least
``TAIL_BEYOND`` samples above it, so a tail is never read off fewer than
ten slower samples; below the median it is no tail, and none is given.
No minimum or best-of-N is computed anywhere.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def tail(samples: list[float]) -> tuple[int, float] | None:
    """``(percentile, value)`` for the highest whole percentile ``p`` whose
    nearest-rank sample has at least ``TAIL_BEYOND`` samples beyond it, or
    None when there are too few samples for a tail at or above the median
    (fewer than ``2 * TAIL_BEYOND``)."""
    n = len(samples)
    p = (100 * (n - TAIL_BEYOND)) // n if n > TAIL_BEYOND else 0
    if p < 50:
        return None
    rank = max(1, math.ceil(p * n / 100))  # nearest-rank, 1-based
    return p, float(sorted(samples)[rank - 1])


def quartiles(samples: list[float]) -> tuple[float, float]:
    """First and third quartile (``statistics.quantiles(n=4)``, the default
    exclusive method)."""
    if len(samples) < 2:
        return samples[0], samples[0]
    q1, _, q3 = statistics.quantiles(samples, n=4)
    return q1, q3



def self_test() -> None:
    """Check the helpers on fixed vectors; raises AssertionError on a
    mismatch so a broken helper can never produce a result."""
    checks = [
        (median([3.0, 1.0, 2.0]), 2.0),
        # true median of an even count, not the upper middle sample
        (median([4.0, 1.0, 3.0, 2.0]), 2.5),
        (median([5.0]), 5.0),
        (tail([float(i) for i in range(10)]), None),
        # 11 samples: only p9 has 10 beyond it, and p9 is no tail
        (tail([float(i) for i in range(1, 12)]), None),
        # 20 samples: p50 -> rank 10, samples 11..20 beyond
        (tail([float(i) for i in range(1, 21)]), (50, 10.0)),
        # 30 samples: p66 -> rank 20 -> value 20, samples 21..30 beyond
        (tail([float(i) for i in range(30, 0, -1)]), (66, 20.0)),
        # 100 samples: p90 -> rank 90
        (tail([float(i) for i in range(1, 101)]), (90, 90.0)),
        # 1000 samples: p99 -> rank 990
        (tail([float(i) for i in range(1, 1001)]), (99, 990.0)),
        (quartiles([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]), (2.75, 8.25)),
    ]
    for got, want in checks:
        if got != want:
            raise AssertionError(f"stats self-test: got {got!r}, want {want!r}")
    for n in (20, 23, 30, 99, 100, 101, 1000):
        p, v = tail([float(i) for i in range(1, n + 1)])
        beyond = sum(1 for i in range(1, n + 1) if i > v)
        if beyond < TAIL_BEYOND:
            raise AssertionError(f"stats self-test: tail p{p} of {n} has {beyond} beyond")
