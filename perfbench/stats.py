"""Arithmetic the benchmark reports: best-of-passes times, the tail
percentile, span self time and the failed fraction. Pure Python, no
Spark."""

from __future__ import annotations

import math

TAIL_BEYOND = 10


def best_times(passes):
    """Each query's best (lowest) wall time over ``passes``, a list of
    ``{query name: seconds}`` maps; a query missing from some passes
    (it raised there) is taken over the passes it has."""
    out: dict = {}
    for times in passes:
        for name, t in times.items():
            out[name] = min(t, out.get(name, t))
    return out


def tail(samples):
    """Highest whole percentile with at least ``TAIL_BEYOND`` samples above it.

    Nearest-rank: percentile ``p`` of ``n`` sorted samples is the one at
    rank ``ceil(p * n / 100)``. Returns ``(value, p, n_beyond)``, or
    ``None`` when there are too few samples for any percentile.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= TAIL_BEYOND:
            return xs[rank - 1], p, n - rank
    return None


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans):
    """Map span id -> duration minus the part its children cover."""
    kids: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - covered(kids.get(sp["id"], []), sp["start"], sp["end"])
        for sp in spans
    }


def failed_frac(outcomes) -> float:
    """Share of attempts that raised or failed the result check.

    ``outcomes`` holds one entry per attempted query: ``"ok"``,
    ``"raised"`` or ``"mismatch"``.
    """
    outcomes = list(outcomes)
    if not outcomes:
        return 0.0
    return sum(o != "ok" for o in outcomes) / len(outcomes)

