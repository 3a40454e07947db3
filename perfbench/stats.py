"""Statistics over the raw record the harness JVM writes: percentiles, span
self time, /v1/metrics deltas and Spark job coverage."""
import math

TAIL_CANDIDATES = (95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sequence."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail_pct(n, candidates=TAIL_CANDIDATES, beyond=MIN_BEYOND):
    """The highest candidate percentile with at least `beyond` of n samples
    above it, or None when there is none."""
    for p in sorted(candidates, reverse=True):
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def tail(values):
    """(percentile, value) of the tail the sample count supports, or
    (50, median) when not even p50 has `MIN_BEYOND` samples beyond it."""
    p = tail_pct(len(values))
    return (p, percentile(values, p)) if p else (50, median(values))


def gmean(values):
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_mean(values, share=0.10):
    """Mean of the slowest `share` of the values (at least one value)."""
    xs = sorted(values, reverse=True)
    k = max(1, math.ceil(share * len(xs)))
    return sum(xs[:k]) / k


def self_times(spans):
    """Self time per span name and per layer (the name up to its first
    dot), in ms. A span's self time is its duration minus the durations of
    its direct children, floored at 0. `spans` rows are
    (name, start_ns, end_ns, id, parent_id, request_id)."""
    child = {}
    for name, a, b, sid, parent, _ in spans:
        child[parent] = child.get(parent, 0.0) + (b - a)
    by_name, by_layer = {}, {}
    for name, a, b, sid, parent, _ in spans:
        own = max(0.0, (b - a) - child.get(sid, 0.0)) / 1e6
        by_name[name] = by_name.get(name, 0.0) + own
        layer = name.split(".", 1)[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + own
    return by_name, by_layer


def durations(spans, name):
    """Durations in ms of the spans called `name`, keyed by request id."""
    return {r: (b - a) / 1e6 for n, a, b, _, _, r in spans if n == name}


def metric_deltas(before, after):
    """Counter deltas between two GET /v1/metrics bodies (flat JSON objects
    of numbers). Keys absent from either side are skipped."""
    return {k: after[k] - before[k] for k in after
            if k in before and isinstance(after[k], (int, float))
            and isinstance(before[k], (int, float))}


def ratio(num, den):
    return num / den if den else 0.0


def union_s(intervals):
    """Total length in seconds of a union of (start_ns, end_ns) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e9
