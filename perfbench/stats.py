"""Pure arithmetic of the benchmark: percentiles and span self time."""
import math

PERCENTILE_LADDER = (99, 95, 90, 75, 50)


def nearest_rank(values, p):
    """Nearest-rank p-th percentile of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100 * n))


def supported_percentile(n):
    """Highest percentile of the ladder with at least ten samples beyond it,
    or None when even the median has fewer than ten."""
    for p in PERCENTILE_LADDER:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values):
    s = sorted(values)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children may nest or overlap).

    `spans` is a list of (id, parent, start, end); returns {id: self}."""
    children = {}
    for sid, parent, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_length(children.get(sid, []), s, e)
            for sid, parent, s, e in spans}


def covered(spans, root, layer_of, layer, lo, hi):
    """Length of [lo, hi) covered by descendants of `root` in `layer`."""
    kids = {}
    for sid, parent, s, e in spans:
        kids.setdefault(parent, []).append((sid, s, e))
    found, todo = [], [root]
    while todo:
        for sid, s, e in kids.get(todo.pop(), []):
            if layer_of[sid] == layer:
                found.append((s, e))
            todo.append(sid)
    return union_length(found, lo, hi)
