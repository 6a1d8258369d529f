"""The benchmark's arithmetic: percentiles, interval unions, span self
time and freshness. Times are in any one unit; callers use milliseconds."""
import math


def percentile(values, q):
    """Linear-interpolated `q`-quantile (0 < q < 1) of `values`, where a
    failed op is `math.inf`. Returns (value, n, beyond): the sample count
    and how many samples lie strictly above the value."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0, 0
    pos = q * (n - 1)
    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
    if math.isinf(xs[hi]):
        v = math.inf if lo == hi or math.isinf(xs[lo]) else xs[hi]
    else:
        v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return v, n, sum(1 for x in xs if x > v)


def tail_ok(beyond, need=10):
    """The sample-size rule for a tail percentile: at least `need` samples
    must lie beyond it."""
    return beyond >= need


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def outside(span, intervals):
    """Part of `span` = (start, end) that no interval covers."""
    return (span[1] - span[0]) - union_length(intervals, span[0], span[1])


def self_times(spans):
    """Self time of every span in a tree: its duration minus the part its
    children cover. `spans` maps id -> {"start", "end", "parent"}."""
    children = {}
    for sid, s in spans.items():
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: outside((s["start"], s["end"]), children.get(sid, []))
            for sid, s in spans.items()}


def freshness(releases, file_batch, batch_end):
    """Release-to-readable time of each first release: from the time the
    file was due (so a late generator counts against the system, as in any
    open loop) to the end of the trigger that committed its batch.
    `releases` is a list of {"name", "due", "replay"}; files that no
    trigger took are returned as inf."""
    out = []
    for r in releases:
        if r["replay"]:
            continue
        b = file_batch.get(r["name"])
        end = batch_end.get(b) if b is not None else None
        out.append(math.inf if end is None else end - r["due"])
    return out
