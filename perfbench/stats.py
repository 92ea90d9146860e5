"""Statistics and span arithmetic for the benchmark's run records."""

import statistics

# Percentiles considered for the tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values)


def tail_percentile(values, beyond=10):
    """Highest percentile of TAIL_PERCENTILES with at least `beyond` samples
    above it, as (percentile, nearest-rank value); None when there are too
    few samples for any of them."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, -(-int(p * n) // 100))  # ceil(p * n / 100)
        if n - rank >= beyond:
            return p, xs[rank - 1]
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, start, end and
    parent (-1 for a root)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def ladder_self(cumulative, order):
    """Self time of each step of a ladder whose step k runs steps 1..k:
    the step's cumulative time minus the previous step's."""
    out, prev = {}, 0.0
    for step in order:
        out[step] = cumulative[step] - prev
        prev = cumulative[step]
    return out
