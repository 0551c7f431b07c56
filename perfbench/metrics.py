"""Pure functions behind the benchmark's numbers: the seeded request order,
percentiles under the ten-samples-beyond rule, and span self time.
"""
import math
import random
import statistics


def request_rounds(menu, seed, rounds):
    """`rounds` passes over `menu`, each a seeded permutation of it.

    Every pass holds each query once, so a window that ends on a pass
    boundary sees the same mix under every seed; the seed only orders it.
    """
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        p = list(menu)
        rng.shuffle(p)
        out.append(p)
    return out


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    `q` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_level(n, cap=0.90, beyond=10):
    """The highest whole-percent level, at most `cap`, that leaves at least
    `beyond` of `n` samples above it; None when not even the median does."""
    for pct in range(round(cap * 100), 49, -1):
        if n - math.ceil(pct * n / 100) >= beyond:
            return pct / 100
    return None


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def median(values):
    return statistics.median(values) if values else 0.0
