"""The benchmark's own arithmetic, kept apart so its tests can pin it."""


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = sorted((max(s, lo) if lo is not None else s,
                      min(e, hi) if hi is not None else e)
                     for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its children cover (children may nest or overlap)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_length(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}
