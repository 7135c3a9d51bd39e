"""Statistics the benchmark reports: percentiles with a sample-count
rule, the geometric mean of per-query medians, and span self time."""
import math
import statistics


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reportable(n, p, min_beyond=10):
    """A percentile is reported only when at least `min_beyond` samples
    lie beyond it, so p90 needs n >= 100."""
    return beyond(n, p) >= min_beyond


def gmean_of_medians(groups):
    """Geometric mean, over groups of samples, of each group's median:
    one figure per query, each query weighted alike whatever its
    latency, so a change to any one query moves it."""
    meds = [statistics.median(g) for g in groups]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. Children may overlap each
    other (counted once) or stick out of the parent (clipped).

    spans: iterable of dicts with id, parent (or None), start, end.
    Returns {id: self_time}."""
    spans = list(spans)
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(s, c["start"]), min(e, c["end"]))
            for c in kids.get(sp["id"], [])
            if c["end"] > s and c["start"] < e)
        out[sp["id"]] = (e - s) - covered
    return out
