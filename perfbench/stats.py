"""Sample statistics and host provenance for the benchmark report."""

from __future__ import annotations

import os

# percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# samples that must lie strictly beyond a reported tail percentile
TAIL_BEYOND = 10


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest ladder
    percentile that leaves at least TAIL_BEYOND samples above it.

    The value is the nearest-rank percentile of the sorted samples.
    Raises ValueError when fewer than 2 * TAIL_BEYOND samples exist,
    because then not even the median has enough samples beyond it."""
    s = sorted(xs)
    n = len(s)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, -(-int(round(p * n * 10)) // 1000))  # ceil(p/100 * n)
        if n - rank >= TAIL_BEYOND:
            best = (s[rank - 1], p, n - rank)
    if best is None:
        raise ValueError(
            f"{n} samples: a tail needs at least {2 * TAIL_BEYOND}"
        )
    return best


def read_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:11]]
    return vals[7], sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))
