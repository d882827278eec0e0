"""Op accounting and the summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# The tail percentile is the highest one that still has this many
# samples beyond it, so it never rests on one or two slow ops.
TAIL_MIN_BEYOND = 10


def tail(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, int, int]:
    """Return ``(value, percentile, n)``: the highest whole percentile
    ``p`` of ``samples`` with at least ``min_beyond`` samples above the
    rank it selects, its value (nearest-rank), and the sample count.

    With fewer than ``min_beyond + 1`` samples no percentile qualifies;
    the median is returned with percentile 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= min_beyond:
            return xs[rank - 1], p, n
    return statistics.median(xs), 50, n


@dataclass
class OpLog:
    """Latencies of the ops of one timed phase.  A failed op (an
    exception, a streaming query error or a wrong result) is counted
    against the attempted ops and sorts above every successful op in
    the tail."""

    latencies_ms: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)

    def ok(self, ms: float) -> None:
        self.latencies_ms.append(ms)

    def fail(self, reason: str) -> None:
        self.failures.append(reason)

    @property
    def attempted(self) -> int:
        return len(self.latencies_ms) + len(self.failures)

    @property
    def failed(self) -> int:
        return len(self.failures)

    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def p50(self) -> float:
        return _with_failures(self.latencies_ms, self.failed, statistics.median)

    def tail(self) -> tuple[float, int, int]:
        return _with_failures(self.latencies_ms, self.failed, tail)


def _with_failures(latencies: list[float], n_failed: int, stat):
    # a failure is "slower than anything measured": +inf keeps it above
    # every success in rank without inventing a latency for it
    return stat(list(latencies) + [math.inf] * n_failed)
