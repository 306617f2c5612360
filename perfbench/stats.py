"""Pure helpers for the benchmark's numbers: percentiles, spread, lateness.

Kept free of Spark so the self-tests can run them in milliseconds.
"""

from __future__ import annotations

import math
import statistics

# A reported percentile must leave at least this many samples above it.
MIN_BEYOND = 10
# The query-latency tail queries_sf01 reports per layer: it leaves
# MIN_BEYOND samples above it from 32 samples up, and a run takes 35.
# epic_ingest takes too few samples for any tail.
TAIL_P = 68


def rank(n: int, p: float) -> int:
    """1-based nearest-rank index of the ``p``-th percentile of ``n`` values."""
    if n < 1:
        raise ValueError("no samples")
    return max(1, math.ceil(p * n / 100 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: a value that was actually measured."""
    s = sorted(values)
    return s[rank(len(s), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile."""
    return n - rank(n, p)


def check_tail(n: int, p: float, min_beyond: int = MIN_BEYOND) -> None:
    """Raise unless ``n`` samples leave ``min_beyond`` of them above the
    ``p``-th percentile. Each workload reports one fixed tail percentile and
    takes a fixed number of samples, sized so that this holds."""
    if samples_beyond(n, p) < min_beyond:
        raise ValueError(f"p{p} of {n} samples leaves {samples_beyond(n, p)} "
                         f"beyond it, fewer than {min_beyond}")


def quartile_spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- open-loop schedule ------------------------------------------------------


def schedule(t0: float, rate: float, n: int) -> list[float]:
    """Due times of ``n`` sends at a fixed ``rate`` per second from ``t0``."""
    return [t0 + i / rate for i in range(n)]


def lateness(due: list[float], started: list[float]) -> list[float]:
    """Seconds each send started after it was due (never negative: a sender
    that is early waits for the due time)."""
    if len(due) != len(started):
        raise ValueError("one start time per due time")
    return [max(0.0, s - d) for d, s in zip(due, started)]


def fell_behind(lags: list[float], rate: float) -> bool:
    """The generator fell behind when a send started a whole inter-arrival
    interval late: at that point the offered load is no longer the rate the
    run claims. Latency is timed from the due time, so the delay still
    counts against the system; the flag says the offered rate was not met."""
    return bool(lags) and max(lags) >= 1.0 / rate
