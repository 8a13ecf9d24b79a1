"""Summaries and failure accounting for the link-graph benchmark.

Pure Python: no Spark, no NumPy, so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import statistics
from contextlib import contextmanager

# percentiles tried from the top; the first one that leaves enough samples
# beyond it is reported next to the median
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the ceil(p% * n)-th smallest value."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile of TAIL_LADDER with at least MIN_BEYOND of ``n``
    samples strictly beyond its rank, or None when no percentile has."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile (if any) and the sample count."""
    if not values:
        return {"n": 0, "median": None, "tail_pct": None, "tail": None}
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "tail_pct": p,
        "tail": None if p is None else percentile(values, p),
    }


class Ledger:
    """Counts attempted and failed operations.

    An operation is one engine call together with the check of its output,
    keyed by (pass id, step name). It fails once, whether its call raised
    or its output check failed; ``failed`` never exceeds ``attempted``.
    """

    def __init__(self) -> None:
        self._attempted: set = set()
        self.failures: dict = {}

    @property
    def attempted(self) -> int:
        return len(self._attempted)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @contextmanager
    def op(self, key):
        """Count ``key`` as attempted; an exception inside marks it failed
        and propagates (the rest of the pass depends on it)."""
        self._attempted.add(key)
        try:
            yield
        except Exception as e:
            self.fail(key, f"{type(e).__name__}: {e}")
            raise

    def check(self, key, ok: bool, what: str) -> None:
        """Record an output check of an attempted operation."""
        self._attempted.add(key)
        if not ok:
            self.fail(key, what)

    def fail(self, key, reason: str) -> None:
        self._attempted.add(key)
        self.failures.setdefault(key, reason[:500])
