"""Pure helpers for turning raw timings and spans into metrics."""
import math
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(n * p / 100)


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None
    when even the median has fewer than ten."""
    ok = [p for p in PERCENTILES if beyond(n, p) >= 10]
    return max(ok) if ok else None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(len(xs) * p / 100) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union(intervals):
    """Merge intervals into a sorted disjoint list."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(intervals):
    return sum(b - a for a, b in union(intervals))


def subtract(interval, holes):
    """Parts of `interval` not covered by `holes`."""
    a, b = interval
    out = []
    for ha, hb in union(holes):
        if hb <= a or ha >= b:
            continue
        if ha > a:
            out.append([a, ha])
        a = max(a, hb)
    if a < b:
        out.append([a, b])
    return out


def attach(spans, items):
    """Parent each (start, end) item to the innermost span whose interval
    holds the item's start. Returns span id -> list of item indexes."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] >= 0:
            s, d = by_id[s["parent"]], d + 1
        return d

    order = sorted(spans, key=depth, reverse=True)
    out = {}
    for i, (start, _end) in enumerate(items):
        for s in order:
            if s["start"] <= start <= s["end"]:
                out.setdefault(s["id"], []).append(i)
                break
    return out


def self_times(spans):
    """Wall time per layer during which a span of that layer was the
    innermost one running: each span's interval minus its children's,
    unioned over the layer (concurrent spans of one layer count once).

    spans: dicts with id, parent, layer, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_layer = {}
    for s in spans:
        holes = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        per_layer.setdefault(s["layer"], []).extend(
            subtract((s["start"], s["end"]), holes))
    return {layer: covered(iv) for layer, iv in per_layer.items()}
