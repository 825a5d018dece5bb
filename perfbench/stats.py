"""Pure helpers of the benchmark harness: percentiles with their sample
counts, wall time with the host's steal taken out and the
order-insensitive digest the output checks compare."""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that the value is one or two outliers, not a tail.
TAIL_SAMPLES = 10
TAIL_CANDIDATES = (99.0, 90.0, 75.0)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (the ``numpy.percentile`` default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest of ``TAIL_CANDIDATES`` that has ``TAIL_SAMPLES`` samples
    beyond it among ``n``, or None when ``n`` supports none of them."""
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= TAIL_SAMPLES:
            return q
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median, sample count and the highest supported tail percentile."""
    out = {"n": len(values), "p50": statistics.median(values)}
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


def steal_adjusted(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time with the host's steal taken out.

    Steal is time a vCPU wanted to run and the hypervisor ran another
    guest; it accrues only on busy vCPUs, so over an interval where this
    process tree is the machine's load, ``cpu_s + steal_s`` is the time its
    threads wanted to run and ``(cpu_s + steal_s) / wall_s`` how many ran
    at once on average. Dividing ``cpu_s`` by that parallelism gives the
    wall the interval would have taken had no time been stolen."""
    if cpu_s + steal_s <= 0:
        return wall_s
    return wall_s * cpu_s / (cpu_s + steal_s)


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def result_digest(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, sha256) of a result, independent of row and column order.

    Columns are put in name order, each row is rendered with ``repr`` and
    the rendered rows are sorted before hashing, so two engines that return
    the same multiset of rows agree whatever order they emit it in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), digest
