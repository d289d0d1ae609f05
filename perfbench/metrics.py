"""Arithmetic of the benchmark: span self time, task busy fractions and
the canonical output hash. Pure functions, covered by test_metrics.py.

The canonical form is the repository's own, from tools/correctness_sf.py:
columns sorted by name, rows sorted by all columns, floats quantized at
1e-9 absolute, -0.0 folded into +0.0.
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from correctness_sf import canon_hash as _canon_hash, norm  # noqa: E402


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
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
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children. Returns {id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def busy_frac(task_ms, cores, wall_ms):
    """Task time over the core time available in a wall interval."""
    return task_ms / (cores * wall_ms) if wall_ms > 0 else 0.0


def canon_hash(df):
    """sha256 of a result frame in canonical form."""
    return _canon_hash(norm(df))
