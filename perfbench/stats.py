"""Arithmetic the benchmark reports with: medians, percentiles, geometric
means and per-layer self time over trace spans."""
import math


def median(xs):
    return quantile(xs, 0.5)


def quantile(xs, q):
    """Linear-interpolated quantile (the numpy default) of a non-empty
    sequence; q in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of an empty sequence")
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its child spans cover (children clipped to the parent).

    spans: dicts with id, parent, layer, start, end. Returns {layer: total}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], a), min(c["end"], b))
            for c in children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(b - a - covered, 0.0)
    return out
