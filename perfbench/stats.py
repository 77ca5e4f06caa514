"""Pure helpers for the benchmark's numbers: interval unions, span self
time and percentiles. Kept free of I/O so the tests can pin them."""
import math


def union_length(intervals):
    """Total length covered by ``(start, end)`` intervals, overlaps counted
    once. Concurrent Spark jobs overlap, so summing their durations
    over-counts the time the executors were busy."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of ``intervals`` that fall inside ``[start, end]``."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover.

    ``spans`` is a list of dicts with ``id``, ``parent`` (an id or None),
    ``name``, ``start`` and ``end``. Returns ``{id: self_time}``."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clip(children.get(s["id"], []),
                                    s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_table(spans):
    """``{name: {"count", "total", "self"}}`` summed over spans of a name."""
    own = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"count": 0, "total": 0.0, "self": 0.0})
        row["count"] += 1
        row["total"] += s["end"] - s["start"]
        row["self"] += own[s["id"]]
    return table


def percentile(values, p):
    """The p-th percentile (0 < p < 100, nearest-rank) of ``values``, or
    None when fewer than ten samples lie beyond it. A tail percentile read
    from a handful of samples is one sample's noise, not a tail."""
    n = len(values)
    rank = math.ceil(n * p / 100)
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[max(0, rank - 1)]


def tail(values):
    """``(p, value)`` for the highest of the usual tail percentiles that has
    ten samples beyond it, or None when even the 75th has fewer."""
    for p in (99, 95, 90, 75):
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None
