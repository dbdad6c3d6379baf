"""Pure helpers shared by the workloads: percentiles, failure counting,
metric naming and interval arithmetic.  No Spark, no engine imports."""

from __future__ import annotations

import re
import statistics
import sys
import time
import traceback

# the contract's metric-name rule: starts with a letter or digit, at
# most 64 characters of letters, digits, '_', '.' and '-'
_METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# a tail percentile is only reported when at least this many samples
# lie beyond it
TAIL_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return bool(_METRIC_NAME.fullmatch(name))


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(percentile, value)``: the value is the (beyond+1)-th largest
    sample and the percentile the share of samples at or below it.
    ``None`` when there are too few samples for any such percentile."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, float(ordered[n - 1 - beyond])


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``
    (each a (lo, hi) pair, clipped to the window)."""
    clipped = sorted(
        (max(lo, start), min(hi, end)) for lo, hi in intervals
        if min(hi, end) > max(lo, start)
    )
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in clipped:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's self time: its duration minus the part of it that its
    child spans cover."""
    return (end - start) - covered(start, end, child_intervals)


class Outcomes:
    """Attempted / failed operation counts.  An operation fails when it
    raises or when its result check returns False."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def run(self, what: str, op, check):
        """Run and time ``op()``; the operation counts as failed if it
        raises or ``check(result)`` is falsy.  Returns ``(result,
        seconds)``, the time covering ``op`` only (result None when it
        raised)."""
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception:  # one failed operation must not end the run
            dt = time.perf_counter() - t0
            traceback.print_exc()
            self.record(False, f"{what}: raised")
            return None, dt
        dt = time.perf_counter() - t0
        self.record(bool(check(result)), f"{what}: wrong result")
        return result, dt

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def same_ranking(got, want, rel: float = 1e-9) -> bool:
    """Same doc ids in the same order, scores within ``rel`` relative."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        abs(g - w) <= rel * max(1.0, abs(w)) for (_, g), (_, w) in zip(got, want)
    )
