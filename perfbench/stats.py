"""Pure helpers behind the benchmark's numbers (no Spark import)."""

from __future__ import annotations

import math
import random

# A percentile is reported only when at least this many samples lie
# beyond it; fewer make the tail a handful of outliers, not a rate.
MIN_BEYOND = 10


def pass_order(keys: list[str], seed: int, pass_index: int) -> list[str]:
    """The order one warm pass submits its keys in: a shuffle fixed by
    the workload seed and the pass number, so a seed replays exactly."""
    order = sorted(keys)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals.

    Overlapping jobs of one query count once, so ``wall - union`` is the
    time the query spent with no Spark job running: driver-side work."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in spans if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of n."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; raises when fewer than ``MIN_BEYOND``
    samples lie beyond it (use :func:`tail` to pick a supported one)."""
    n = len(values)
    if beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {beyond(n, q)} beyond it "
            f"(< {MIN_BEYOND})"
        )
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


def tail(values: list[float], qs=(0.99, 0.95, 0.9, 0.75, 0.5)) -> dict | None:
    """The highest of ``qs`` with at least ``MIN_BEYOND`` samples beyond
    it, as ``{"q", "value", "n"}``; None when even the median lacks them."""
    for q in qs:
        if beyond(len(values), q) >= MIN_BEYOND:
            return {"q": q, "value": percentile(values, q), "n": len(values)}
    return None

