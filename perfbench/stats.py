"""Percentile, ratio and spread arithmetic used by the benchmark."""

from __future__ import annotations

import math
import statistics

# Percentiles a run may report, lowest first; a run reports the highest one
# with at least MIN_TAIL samples beyond it.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0)
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float:
    """q-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_samples(n: int, q: float) -> int:
    """Samples strictly beyond the q-th percentile of n samples."""
    return int(math.floor(n * (100.0 - q) / 100.0 + 1e-9))


def supported_percentile(n: int) -> float | None:
    """Highest of PERCENTILES with at least MIN_TAIL samples beyond it."""
    best = None
    for q in PERCENTILES:
        if tail_samples(n, q) >= MIN_TAIL:
            best = q
    return best


def ratio(num: float, den: float) -> float:
    """num / den, 0.0 when nothing was attempted."""
    return num / den if den else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


# Host probe time (sparkproc.probe_job_s) at which host_normalized reads
# in plain milliseconds; about its median on a quiet 4-vCPU VM.
PROBE_REF_MS = 25.0


def host_normalized(latency_ms: list[float], probe_s: list[float]) -> float:
    """Mean latency in ms, rescaled from the run's mean host probe time to
    PROBE_REF_MS: the latency the same work would see on a host where the
    probe takes PROBE_REF_MS. Host load that slows every Spark job alike
    cancels out; work the program adds or removes does not."""
    return mean(latency_ms) * PROBE_REF_MS / (mean(probe_s) * 1e3)


def relative_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles' default method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
