"""Arithmetic shared by the benchmark runner and its tests."""

import statistics


def median(values):
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def ratio(num, den):
    """num / den, or 0 when den is 0 (a layer the workload does not use)."""
    return num / den if den else 0.0


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Maps span id to its self time: its duration minus the part of it that
    its child spans cover (children may overlap, as concurrent branches do).
    Spans are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length((max(c["start_ms"], lo), min(c["end_ms"], hi))
                               for c in children.get(s["id"], [])
                               if c["end_ms"] > lo and c["start_ms"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out
