"""Pure statistics of one benchmark run: medians, the tail-percentile
rule, failure counting and span self time."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: samples a tail percentile must leave above it
TAIL_SAMPLES = 10
#: the tail percentile reported once there are enough samples
TAIL_LEVEL = 0.9


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, level, n)``: the highest percentile of ``samples`` that
    still has at least ``TAIL_SAMPLES`` samples above it, capped at
    ``TAIL_LEVEL``.

    With ``n`` samples that is the sorted sample at index
    ``min(ceil(0.9 n) - 1, n - 11)``, so p90 from 100 samples on and a
    lower level (reported) below that.  With 11 or fewer samples it is
    the smallest sample.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    k = max(0, min(math.ceil(TAIL_LEVEL * n) - 1, n - 1 - TAIL_SAMPLES))
    return float(sorted(samples)[k]), (k + 1) / n, n


@dataclass
class Tally:
    """Attempted and failed operations of a run, with the reasons."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, name: str, error: str | None) -> bool:
        """Count one operation; ``error`` is None when it succeeded."""
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.reasons.append(f"{name}: {error}")
        return error is None

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def self_times(spans: list[tuple]) -> list[float]:
    """Self seconds of each span: its duration minus the part its
    direct children cover.

    ``spans`` are ``(name, start, end, parent, call_id)`` tuples where
    ``parent`` is the index of the enclosing span in the list (or None).
    Children of one parent do not overlap (one client, one thread).
    """
    covered = [0.0] * len(spans)
    for _, start, end, parent, _ in spans:
        if parent is not None:
            covered[parent] += end - start
    return [max(0.0, end - start - covered[i])
            for i, (_, start, end, _, _) in enumerate(spans)]
