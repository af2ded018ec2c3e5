"""Small pure helpers shared by the launcher and the workload runner."""

from __future__ import annotations

import hashlib
import statistics

# percentiles considered for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(p, value, n) for the highest percentile p of TAIL_LADDER with at
    least MIN_BEYOND samples beyond it, or None when even the lowest
    rung has fewer."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p, percentile(values, p), n
    return None


def failed_frac(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops; an op whose output check failed is
    a failed op even though it ran."""
    if attempted < 1:
        raise ValueError("no op attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def median(values: list[float]) -> float:
    return statistics.median(values)


def hd_median(values: list[float], steps: int = 2000) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of all order statistics. Unlike the sample median of a
    few unlike ops it does not jump from one op kind to the next when two
    neighbours swap places. The Beta weights are integrated numerically
    (midpoint rule; no scipy here)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    a = (n + 1) / 2

    def dens(x: float) -> float:
        return (x * (1 - x)) ** (a - 1)

    weights = []
    for i in range(n):
        h = 1 / (n * steps)
        weights.append(sum(dens(i / n + (k + 0.5) * h) for k in range(steps)) * h)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def norm_rows(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, numbers as floats, rows sorted (the rule of tools/verify_subset.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(
            float(r[i]) if isinstance(r[i], (int, float)) and not isinstance(r[i], bool) else r[i]
            for i in order
        )
        for r in rows
    ]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def value_hash(rows, cols) -> str:
    """sha256 over the canonical form: equal results hash equal."""
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for t in norm_rows(rows, cols):
        h.update(repr(t).encode())
    return h.hexdigest()[:16]
