"""Summary statistics and span arithmetic (no Spark, no I/O)."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values) -> float:
    return float(statistics.median(values))


def tail(samples) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: ``{"pct", "value", "n"}``, or None when there are too few samples.

    With the samples sorted ascending, ``x[j]`` has ``n - 1 - j`` samples
    beyond it, so the highest admissible index is ``n - 1 - TAIL_BEYOND``
    and ``x[j]`` is the ``100 * (j + 1) / n`` percentile."""
    xs = sorted(samples)
    n = len(xs)
    j = n - 1 - TAIL_BEYOND
    if j < 0:
        return None
    return {"pct": 100.0 * (j + 1) / n, "value": float(xs[j]), "n": n}


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover.  Spans are dicts with ``id``, ``parent``
    (an id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [
            (max(a, lo), min(b, hi))
            for a, b in children.get(s["id"], [])
            if min(b, hi) > max(a, lo)
        ]
        out[s["id"]] = (hi - lo) - covered(clipped)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer; a span's layer is its name up to the
    first dot."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out
