"""The benchmark's own arithmetic: percentiles, span self time, capacity
and failure share. Pure functions, tested by perfbench/test_metrics.py.
"""


def percentile(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def highest_percentile(n, tail=10, candidates=(99, 95, 90, 80, 75, 50)):
    """The highest candidate percentile of n samples that leaves at least
    `tail` samples beyond it, or None when even the median does not."""
    for q in candidates:
        if beyond(list(range(n)), q) >= tail:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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
    interval that its child spans cover. `spans` are dicts with id,
    parent, start and end; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_layer(spans):
    """Sum of self time per layer, the span name's first dotted part."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def capacity(rows, busy_ms):
    """Rows per second of busy time: sum(rows) / sum(busy)."""
    busy = sum(busy_ms) / 1000.0
    if busy <= 0:
        raise ValueError("capacity over no busy time")
    return sum(rows) / busy


def backlog_growth(rows, rate):
    """Seconds of input by which the micro-batches of the second half of
    a window outgrow those of the first half. A rate source hands each
    batch everything generated since the last one, so a backlog that
    keeps growing shows as batches that keep growing; a saturated but
    steady query alternates between sizes and reads near 0."""
    if len(rows) < 2:
        raise ValueError("backlog growth needs two batches")
    h = len(rows) // 2
    first, second = rows[:h], rows[len(rows) - h:]
    return (sum(second) / h - sum(first) / h) / rate


def tracing_during(toggles, start, end):
    """Whether tracing was on for all of [start, end]: True or False, or
    None when it switched inside. `toggles` are (time, on after) pairs in
    time order; tracing is off before the first."""
    on = False
    for t, after in toggles:
        if t <= start:
            on = after
        elif t <= end:
            return None
    return on


def failed_share(failed, attempted):
    if attempted < 1:
        raise ValueError("failed share of no attempts")
    return failed / attempted
