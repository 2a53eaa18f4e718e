"""Small, dependency-free statistics used by the benchmark report."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs, beyond=10):
    """The highest whole percentile that has at least ``beyond`` samples
    above it, as ``(percentile, value)`` by the nearest-rank rule, or
    ``None`` when there are too few samples for any."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return p, s[rank - 1]
    return None


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its child spans cover, summed by the span's layer.

    ``spans`` are dicts with ``id``, ``parent``, ``layer``, ``start_ms`` and
    ``end_ms``; a parent of -1 marks a root."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur_lo, cur_hi = 0.0, None, None
        kids = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                      for c in children.get(s["id"], []))
        for a, b in kids:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out
