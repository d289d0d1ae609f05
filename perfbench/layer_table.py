#!/usr/bin/env python3
"""Per-query layer table from traced runs, in the shape of the ROADMAP's
"Open items" table.

    python3 perfbench/layer_table.py .bench_build/runs/*-trace1/trace.json

Each row is one query: the median over the traced steady passes of its
wall time, jobs, busy fraction (task-seconds / (cores x wall)) and shuffle
bytes written, and the layer it is bound by.
"""
import json
import statistics
import sys


def rows(trace):
    spans = {s["id"]: s for s in trace["spans"]}

    def query_of(s):
        while s["kind"] != "query":
            if not s["parent"]:
                return None
            s = spans[s["parent"]]
        return s

    per = {}
    for s in trace["spans"]:
        q = query_of(s)
        if q is None or not spans[q["parent"]]["name"].startswith("steady"):
            continue
        acc = per.setdefault(q["name"], {}).setdefault(
            q["id"], {"wall_ms": q["end_ms"] - q["start_ms"]})
        for k, v in s["counters"].items():
            acc[k] = acc.get(k, 0) + v
    for name, execs in per.items():
        def med(k):
            return statistics.median(e.get(k, 0) for e in execs.values())
        wall = med("wall_ms") / 1e3
        busy = med("task_ms") / 1e3 / (trace["cores"] * wall) if wall else 0.0
        yield {"query": name, "wall": wall, "jobs": med("jobs"), "busy": busy,
               "shuffle_mb": med("shuffle_write_bytes") / 1e6,
               "task_s": med("task_ms") / 1e3, "cpu_s": med("cpu_ms") / 1e3}


def bound_by(r):
    if r["task_s"] > 1 and r["cpu_s"] < 0.3 * r["task_s"]:
        return (f"tasks waiting ({r['task_s']:.1f} s task time, "
                f"{r['cpu_s']:.1f} s CPU)")
    if r["busy"] < 0.4 and r["jobs"] >= 10:
        return "driver"
    if r["shuffle_mb"] >= 10:
        return "executor + shuffle"
    return "executor"


def shuffle(mb):
    return "~0" if mb < 0.05 else f"{mb:.1f} MB" if mb < 10 else f"{mb:.0f} MB"


def main(paths):
    if not paths:
        sys.exit(__doc__)
    table = []
    for p in paths:
        with open(p) as f:
            table.extend(rows(json.load(f)))
    print("| query | wall | jobs | busy | shuffle | bound by |")
    print("|---|---|---|---|---|---|")
    for r in sorted(table, key=lambda r: -r["wall"]):
        print(f"| {r['query']} | {r['wall']:.1f} s | {r['jobs']:.0f} | "
              f"{r['busy']:.2f} | {shuffle(r['shuffle_mb'])} | {bound_by(r)} |")


if __name__ == "__main__":
    main(sys.argv[1:])
