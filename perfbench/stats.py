"""Summary statistics over an op log.

An op log is a list of ``(kind, seconds)`` pairs in the order the ops ran.
"""

from __future__ import annotations

import math
import statistics


def kind_median_geomean(log: list[tuple[str, float]]) -> float:
    """Geometric mean, over op kinds, of each kind's median time. Every kind
    weighs the same whatever its share of the log, so a mix of fast and slow
    kinds gives a figure that moves when any kind moves, which the median of
    the whole log does not; with one kind it is that kind's median."""
    by_kind: dict[str, list[float]] = {}
    for kind, sec in log:
        by_kind.setdefault(kind, []).append(sec)
    if not by_kind:
        raise ValueError("geometric mean of an empty log")
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def ratio(num: float, den: float) -> float:
    """``num / den``; 0 when there is nothing to divide by."""
    return num / den if den else 0.0


def drift_ratio(log: list[tuple[str, float]]) -> float:
    """Median op time of the last quarter of the log over that of the first
    quarter, each op first divided by the median of its own kind, so a mix
    of fast and slow kinds compares like with like. Kinds that ran once
    carry no drift and are left out. 1.0 means settled."""
    by_kind: dict[str, list[float]] = {}
    for kind, sec in log:
        by_kind.setdefault(kind, []).append(sec)
    kind_median = {k: statistics.median(v) for k, v in by_kind.items() if len(v) > 1}
    norm = [ratio(sec, kind_median[k]) for k, sec in log if k in kind_median]
    if not norm:
        return 1.0
    q = max(1, len(norm) // 4)
    return ratio(statistics.median(norm[-q:]), statistics.median(norm[:q]))
