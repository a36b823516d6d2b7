"""Percentiles, latency histograms and failure accounting."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

#: percentiles tried, highest first, when reporting a tail
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile is reported only when this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return float(ordered[rank - 1])


def median(values: Sequence[float]) -> float:
    """Middle sample, or the mean of the two middle samples."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return float(ordered[mid])
    return (ordered[mid - 1] + ordered[mid]) / 2


def supported_tail(n: int, wanted: float = 99.0) -> float | None:
    """Highest percentile up to ``wanted`` that leaves at least
    MIN_TAIL_SAMPLES of ``n`` samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if p <= wanted and n * (100 - p) / 100 >= MIN_TAIL_SAMPLES:
            return p
    return None


class LogHistogram:
    """Counts of non-negative values in buckets 1 ms wide up to
    ``linear_ms``, then growing by ``growth`` per bucket, so a
    percentile is exact to 1 ms below ``linear_ms`` and to a factor of
    ``growth`` above it, whatever the number of samples."""

    def __init__(self, linear_ms: int = 100, growth: float = 1.02):
        if linear_ms < 1 or growth <= 1:
            raise ValueError("linear_ms must be >= 1 and growth > 1")
        self.linear_ms = linear_ms
        self.growth = growth
        self.counts: dict[int, int] = {}

    def bucket(self, value_ms: float) -> int:
        v = max(0.0, float(value_ms))
        if v < self.linear_ms:
            return int(v)
        return self.linear_ms + int(math.log(v / self.linear_ms) / math.log(self.growth))

    def upper(self, bucket: int) -> float:
        """Upper edge of a bucket: the value reported for its samples."""
        if bucket < self.linear_ms:
            return float(bucket + 1)
        return self.linear_ms * self.growth ** (bucket - self.linear_ms + 1)

    def add(self, value_ms: float, count: int = 1) -> None:
        self.add_bucket(self.bucket(value_ms), count)

    def add_bucket(self, bucket: int, count: int) -> None:
        if count < 0:
            raise ValueError("negative count")
        self.counts[bucket] = self.counts.get(bucket, 0) + count

    @property
    def total(self) -> int:
        return sum(self.counts.values())

    def percentile(self, p: float) -> float:
        """Nearest-rank percentile, reported as its bucket's upper edge."""
        n = self.total
        if n == 0:
            raise ValueError("percentile of an empty histogram")
        rank = max(1, math.ceil(p / 100 * n))
        seen = 0
        for b in sorted(self.counts):
            seen += self.counts[b]
            if seen >= rank:
                return self.upper(b)
        raise AssertionError("unreachable: rank <= total")


class Outcomes:
    """Attempted and failed operations, by kind. ``error_ratio`` is
    failed / attempted over every kind."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.notes: list[str] = []

    def record(self, kind: str, ok: bool, note: str = "") -> bool:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        if not ok:
            self.failed[kind] = self.failed.get(kind, 0) + 1
            self.notes.append(f"{kind}: {note}" if note else kind)
        return ok

    def check(self, kind: str, cond: bool, note: str) -> bool:
        return self.record(kind, bool(cond), "" if cond else note)

    @property
    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def error_ratio(self) -> float:
        n = self.n_attempted
        return self.n_failed / n if n else 1.0


def quartile_spread(values: Iterable[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them: the run-to-run spread of one metric."""
    import statistics

    vals = list(values)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2
