"""Summary statistics for latency samples.

A sample is ``(kind, ms)``: the kind is the query name in a query mix
and ``"tick"`` in the CDC workload.  In a mix of kinds whose latencies
differ by 10×, the plain median of all samples falls in the gap between
two kinds and jumps with the slowest sample of one kind and the fastest
of the next.  So the median and tail are taken per kind and combined:

* p50 is the geometric mean over kinds of each kind's median;
* the tail is p50 times the tail percentile of every sample divided by
  its kind's median, the highest whole percentile with at least
  ``TAIL_BEYOND`` samples beyond it.

With one kind these are the plain median and the plain tail percentile.

``TAIL_BEYOND`` is 5, not 10: a CDC tick costs about 2 s, and 23 ticks
(the fewest that give ten samples beyond a tail above the median) do
not fit the benchmark's time budget; 13 do.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

TAIL_BEYOND = 5


def _rank(pct: int, n: int) -> int:
    """Nearest rank (1-based) of the ``pct``-th percentile of ``n``."""
    return max(1, math.ceil(pct / 100 * n))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile whose nearest-rank value has at least
    ``TAIL_BEYOND`` samples above it, or None when that value would not
    lie strictly above both middle samples (fewer than 2·TAIL_BEYOND + 3
    samples), where a "tail" would only repeat the median."""
    best = None
    for pct in range(1, 100):
        if n - _rank(pct, n) >= TAIL_BEYOND:
            best = pct
    if best is None or _rank(best, n) <= n / 2 + 1:
        return None
    return best


def summarize(samples: list[tuple[str, float]]) -> dict:
    """p50 and tail of ``samples`` with the counts behind them."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for kind, ms in samples:
        by_kind[kind].append(ms)
    out = {"n": len(samples), "kinds": len(by_kind), "p50": None, "tail_pct": None,
           "tail": None, "beyond": 0}
    if not samples:
        return out
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    out["p50"] = math.exp(statistics.fmean(math.log(m) for m in medians.values()))
    pct = tail_percentile(len(samples))
    if pct is not None:
        ratios = sorted(ms / medians[k] for k, ms in samples)
        rank = _rank(pct, len(ratios))
        out.update(tail_pct=pct, tail=out["p50"] * ratios[rank - 1], beyond=len(ratios) - rank)
    return out
