"""Small statistics helpers shared by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

# Percentiles tried, highest first, when choosing the reported tail.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(values, pct: float) -> float:
    """The nearest-rank percentile of ``values`` (``pct`` in 0..100]."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values, min_beyond: int = 10, levels=TAIL_LEVELS) -> dict | None:
    """The highest percentile in ``levels`` with at least ``min_beyond``
    samples ranked beyond it, as ``{"percentile", "value", "samples",
    "beyond"}``; None when even the lowest level has too few."""
    n = len(values)
    for pct in levels:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return {
                "percentile": pct,
                "value": nearest_rank(values, pct),
                "samples": n,
                "beyond": n - rank,
            }
    return None


def tracing_overhead(untraced_s, traced_s) -> dict:
    """Compare op wall times measured with and without tracing in the
    same run: mean of each side and the traced side's excess in %."""
    if not untraced_s or not traced_s:
        raise ValueError("need at least one traced and one untraced op")
    u = statistics.fmean(untraced_s)
    t = statistics.fmean(traced_s)
    return {
        "untraced_mean_s": u,
        "traced_mean_s": t,
        "untraced_ops": len(untraced_s),
        "traced_ops": len(traced_s),
        "overhead_pct": (t - u) / u * 100.0,
    }
