"""Pure measurement rules shared by the workloads (no Spark here)."""

from __future__ import annotations

import math

import numpy as np

# Candidate percentiles, lowest first; the tail a run reports is the
# highest of these that has at least TAIL_SAMPLES samples beyond it.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)
TAIL_SAMPLES = 10


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten of ``n``
    samples beyond it, or None when not even the median has."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_SAMPLES - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = np.sort(np.asarray(values, dtype=float))
    if not len(s):
        raise ValueError("percentile of no samples")
    return float(s[max(0, math.ceil(round(p * len(s) / 100.0, 9)) - 1)])


def latency_lines(stem: str, values) -> list[tuple[str, float, str, int]]:
    """Report lines for a latency sample in seconds: the median, p90 and
    the highest percentile the tail rule allows, each with its count."""
    n = len(values)
    ps = [50.0]
    tail = tail_percentile(n)
    if tail is not None:
        ps += [p for p in (90.0, tail) if p > 50.0 and p <= tail and p not in ps]
    return [(f"{stem}_p{p:g}_s", percentile(values, p), "s", n) for p in ps]


def median(values) -> float:
    return percentile(values, 50.0)


def record_latencies(
    batches: list[tuple[int, int, float]], lo: int, hi: int, t0: float, rate: float
) -> np.ndarray:
    """Per-record latency of the paced records [lo, hi).

    ``batches`` holds one ``(start, end, commit_time)`` per micro-batch:
    the offset range [start, end) the batch read, as its progress
    reports it, and the wall time its sink call returned. Record ``i``
    was due at ``t0 + (i - lo) / rate``; its latency is the commit time
    of the batch that carried it minus that due time. Records outside
    [lo, hi) (warm-up, backlog) are ignored. Raises if a paced record
    was carried by no batch or by two."""
    out = np.full(hi - lo, np.nan)
    for start, end, commit in batches:
        a, b = max(start, lo), min(end, hi)
        if a >= b:
            continue
        if not np.isnan(out[a - lo : b - lo]).all():
            raise ValueError(f"records [{a}, {b}) committed twice")
        due = t0 + (np.arange(a, b) - lo) / rate
        out[a - lo : b - lo] = commit - due
    if np.isnan(out).any():
        raise ValueError("some paced records were never committed")
    return out
