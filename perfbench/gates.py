"""Output checks, order-insensitive hashes and the percentile rule.

Every operation a workload attempts is recorded in a :class:`Ledger`; a
wrong payload, a wrong count or a raised error marks it failed instead of
aborting the run, so ``failed / attempted`` is the run's error rate.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import sys
import threading

#: percentiles tried, highest first, by :func:`tail_percentile`
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


class Ledger:
    """Thread-safe count of attempted and failed operations."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def record(self, ok: bool, what: str) -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
        if not ok:
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def canonical(value):
    """Floats rounded to 6dp and dates as text, as the registry's DuckDB
    oracle comparison does."""
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 6)
    if isinstance(value, (datetime.date, datetime.datetime)):
        return str(value)
    return value


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result set that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(canonical(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(samples)
    return ordered[_rank(q, len(ordered)) - 1]


def _rank(q: float, n: int) -> int:
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile in :data:`TAIL_LADDER` with at least ten
    samples beyond it, as ``(q, value)``; None if even the median lacks
    ten samples above it."""
    n = len(samples)
    for q in TAIL_LADDER:
        if n - _rank(q, n) >= 10:
            return q, percentile(samples, q)
    return None
