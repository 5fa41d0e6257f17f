"""Statistics over one benchmark run: percentiles, span self time, failures."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(values, q):
    """Number of samples above the nearest-rank q-th percentile."""
    return len(values) - max(1, math.ceil(q / 100.0 * len(values)))


def tail_percentile(values, candidates=(99, 95, 90, 75, 50), min_beyond=10):
    """The highest candidate percentile with at least `min_beyond` samples
    above it, as (q, value, samples_beyond); None when even the median has
    fewer than that."""
    for q in candidates:
        if beyond(values, q) >= min_beyond:
            return q, percentile(values, q), beyond(values, q)
    return None


def median(values):
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
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
    """Span id -> duration minus the part of it its direct children cover.
    Spans are dicts with id, parent, start_s and end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(k["start_s"], s["start_s"]), min(k["end_s"], s["end_s"]))
                for k in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered(kids)
    return out


def fail_ratio(ops):
    """Failed over attempted; an op failed if it threw or its output check failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)
