"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics
from concurrent.futures import ThreadPoolExecutor

#: A tail percentile needs at least this many samples above it.
TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``samples`` with at least ``beyond`` samples
    above it: ``(value, percentile, sample count)``.

    With n sorted samples that is the (n - beyond)-th smallest, at
    percentile 100 * (n - beyond) / n."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    k = n - beyond
    return sorted(samples)[k - 1], 100.0 * k / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


class Tally:
    """Operations attempted and failed. Every execution of a query whose
    checked output was wrong counts as failed, as does every operation that
    raises or whose output is wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong: dict[str, str] = {}

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def check(self, names: list[str], check_one, threads: int = 1) -> None:
        """Run ``check_one(name)``, which raises if the output is wrong, for
        every name, on ``threads`` threads."""

        def one(name):
            try:
                check_one(name)
            except Exception as e:  # any failure is a result to report
                return f"{type(e).__name__}: {str(e)[:300]}"
            return None

        with ThreadPoolExecutor(threads) as pool:
            errors = list(pool.map(one, names))
        for name, error in zip(names, errors):
            if error is not None:
                self.wrong[name] = error
            self.op(error is None)

    def timed(self, name: str, ok: bool) -> None:
        self.op(ok and name not in self.wrong)
