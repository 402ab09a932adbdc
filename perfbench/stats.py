"""Summary statistics and process measurements for benchmark reports."""

from __future__ import annotations

import math
import statistics


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_mean(samples) -> float:
    """Mean of the slowest fifth of ``samples`` (at least one sample):
    the samples beyond the 80th percentile, averaged so that a tail of
    mixed op kinds does not jump between neighbouring ranks."""
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples, reverse=True)
    k = max(1, len(xs) // 5)
    return sum(xs[:k]) / k


def kind_medians(kinds, samples) -> list[float]:
    """``samples`` with each one replaced by the median of the samples
    of its kind, so that a stall hitting a minority of one kind's
    samples changes nothing."""
    by_kind: dict = {}
    for kind, x in zip(kinds, samples, strict=True):
        by_kind.setdefault(kind, []).append(x)
    median = {kind: statistics.median(xs) for kind, xs in by_kind.items()}
    return [median[kind] for kind in kinds]


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
