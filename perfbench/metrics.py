"""Pure metric math for the benchmark (no Spark): percentiles, the tail
rule, span self time, error bookkeeping and latency growth."""

from __future__ import annotations

import statistics

#: percentiles the tail rule may report, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1], inside the sample
    range (the ``inclusive`` method of :func:`statistics.quantiles`)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, min_beyond: int = 10,
                    candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ``min_beyond``
    samples strictly above it: ``(pct, value, n_samples)``, or
    ``(None, None, n)`` when the sample is too small for any."""
    n = len(values)
    for pct in sorted(candidates, reverse=True):
        if n == 0:
            break
        v = quantile(values, pct / 100.0)
        if sum(1 for x in values if x > v) >= min_beyond:
            return pct, v, n
    return None, None, n


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover.
    Concurrent children overlap, so the covered part is the *union* of
    their intervals (clipped to the span), not the sum of durations."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def latency_growth(latencies):
    """Mean latency of the last quarter of a series over the mean of its
    first quarter (at least one sample each); None below two samples."""
    n = len(latencies)
    if n < 2:
        return None
    q = max(1, n // 4)
    first = sum(latencies[:q]) / q
    last = sum(latencies[-q:]) / q
    return last / first


def least_stolen(ops, n: int) -> list:
    """The ``n`` ops with the least ``"steal"`` (share of the host's CPU
    time given to other guests while the op ran), in run order; ties go
    to the earlier op."""
    keep = {id(o) for o in sorted(ops, key=lambda o: o["steal"])[:n]}
    return [o for o in ops if id(o) in keep]


def spread(values) -> float:
    """Inter-quartile distance over the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class OpLedger:
    """Attempted / failed operations. An op is one ``run``, one append or
    one UDF pass; a later failed output check fails the op it checked."""

    def __init__(self):
        self._ok: dict[str, bool] = {}

    def record(self, op_id: str, ok: bool) -> None:
        if op_id in self._ok:
            raise KeyError(f"op {op_id!r} recorded twice")
        self._ok[op_id] = ok

    def fail(self, op_id: str) -> None:
        if op_id not in self._ok:
            raise KeyError(f"unknown op {op_id!r}")
        self._ok[op_id] = False

    @property
    def attempted(self) -> int:
        return len(self._ok)

    @property
    def failed(self) -> int:
        return sum(1 for ok in self._ok.values() if not ok)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
