"""Summary statistics of the benchmark: medians, the tail-percentile rule,
span self time and error accounting. Pure functions, tested by
perfbench/test_stats.py.
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples (the small
    epsilon keeps 99.9% of 10000 at rank 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def nearest_rank(values, p):
    """The p-th percentile by the nearest-rank method."""
    ordered = sorted(values)
    return ordered[rank(p, len(ordered)) - 1]


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER with at least TAIL_BEYOND of n
    samples beyond it, or None when n is too small for any of them."""
    for p in TAIL_LADDER:
        if n - rank(p, n) >= TAIL_BEYOND:
            return p
    return None


def tail(values):
    """(value, percentile) of the tail rule. With fewer samples than the rule
    needs, the tail is the median and the percentile is reported as 50."""
    p = tail_percentile(len(values))
    if p is None:
        return median(values), 50.0
    return nearest_rank(values, p), p


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once).
    `spans` are (id, name, parent, start, end); returns {id: self time}."""
    children = {}
    for sid, _, parent, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, _, start, end in spans:
        clipped = [(max(s, start), min(e, end)) for s, e in children.get(sid, [])
                   if min(e, end) > max(s, start)]
        out[sid] = (end - start) - union_length(clipped)
    return out


def self_time_by_name(spans):
    """{name: summed self time} over all spans of that name."""
    own = self_times(spans)
    out = {}
    for sid, name, *_ in spans:
        out[name] = out.get(name, 0) + own[sid]
    return out


def error_rate(attempted, failed):
    """Failed over attempted operations; a failed output check is a failure."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
