#!/usr/bin/env python3
"""graft benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline). Each run starts one JVM on
`local[nproc]` with heap SPARK_DRIVER_MEM, times its set-up (JVM start
through warming the workload's tables), runs an untimed cold pass, then
starts a fresh session in the warm JVM and times its first pass and
steady passes for S seconds (the seed permutes the query order of every
pass), and checks the rows the last pass returned against recorded
canonical hashes. With --trace 0 it prints the end-to-end metrics; with
--trace 1 a separate traced run prints the per-layer metrics and writes
its spans to `.bench_build/runs/<run>/trace.json`. The last stdout line is
the result JSON.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import duckdb

try:
    import metrics as M
except ImportError as e:  # the engine checkout's tools/ is missing
    sys.exit(f"perfbench: {e}; run from the root of a graft checkout")

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
MIN_STEADY = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
               os.path.expanduser("~/.sbt/repositories") +
               " -Dsbt.offline=true -Xmx2g")


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def sources():
    """Every file the build compiles, with size and mtime."""
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    return [(os.path.relpath(f, ROOT), os.path.getsize(f), os.path.getmtime(f))
            for f in files]


def build():
    """Compile the engine and the harness unless this source tree is
    already built; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from the root of a graft checkout")
    stamp = hashlib.sha256(repr(sources()).encode()).hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    os.makedirs(BUILD, exist_ok=True)
    fresh = (os.path.exists(CLASSPATH) and os.path.exists(stamp_file) and
             open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("SBT_OPTS", SBT_OFFLINE)
        env.setdefault("COURSIER_MODE", "offline")
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={BUILD}/tmp", "writeClasspath"], cwd=HERE, env=env,
                               stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(CLASSPATH):
            sys.exit(f"perfbench: build failed, see {BUILD}/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(CLASSPATH) as f:
        return f.read().strip()


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, work, args):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graftbench.Main",
            f"work={work}"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s, see {work}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.exit(f"perfbench: harness exited {rc}, see {work}/jvm.log")


def check_outputs(out_dir, queries, expected):
    """Canonical hash of each query's returned rows against the record.
    Returns the queries whose rows are missing or differ."""
    con = duckdb.connect()
    bad = []
    for q in queries:
        path = os.path.join(out_dir, q)
        try:
            got = M.canon_hash(con.execute(f"SELECT * FROM '{path}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001 — a missing output is a failure
            print(f"perfbench: {q}: no readable output ({e})", file=sys.stderr)
            got = None
        if got != expected[q]:
            bad.append(q)
    return bad


def steady(art):
    return [p for p in art["passes"] if p["kind"] == "steady"]


def wall_of(art, kind):
    """Wall time of the run's one pass of this kind (cold or first)."""
    return next(p["wall_s"] for p in art["passes"] if p["kind"] == kind)


def end_to_end(art, failed_checks):
    """A query's steady latency is its median over the steady passes;
    pass_s sums them and query_gmean_s is their geometric mean."""
    st = steady(art)
    per_query = {}
    for p in st:
        for q, v in p["queries"].items():
            if v["ok"]:
                per_query.setdefault(q, []).append(v["s"])
    medians = [statistics.median(xs) for xs in per_query.values()]
    attempted = sum(len(p["queries"]) for p in art["passes"])
    failed = len(art["failures"]) + len(failed_checks)
    print(f"perfbench: {len(st)} steady passes of {len(per_query)} queries")
    return attempted, failed, {
        "setup_s": (art["setup"]["total_s"], "s"),
        "first_pass_s": (wall_of(art, "first"), "s"),
        "pass_s": (sum(medians), "s"),
        "query_gmean_s": (statistics.geometric_mean(medians), "s"),
        "slowest_query_s": (max(medians), "s"),
        "ok_frac": (1 - failed / attempted, "frac"),
        "cache_mb": (art["cache_mb"], "MB"),
        "store_mb": (art["store_mb"], "MB"),
    }


def layer_rollup(art):
    """Per traced pass, by pass name: counters summed over the pass's
    spans, plus wall time, task-interval union and build spans."""
    spans = {s["id"]: s for s in art["spans"]}

    def pass_of(s):
        while s["kind"] != "pass":
            if not s["parent"]:
                return None
            s = spans[s["parent"]]
        return s

    rolled = {}
    for s in art["spans"]:
        p = pass_of(s)
        if p is None:
            continue
        r = rolled.setdefault(p["id"], {"name": p["name"], "wall_ms": p["end_ms"] - p["start_ms"],
                                        "build_ms": 0.0, "build_jobs": 0.0,
                                        "c": {}, "tasks": []})
        if s["kind"] == "ops.build":
            r["build_ms"] += s["end_ms"] - s["start_ms"]
            r["build_jobs"] += s["counters"].get("jobs", 0)
        for k, v in s["counters"].items():
            if k == "peak_mem_bytes":
                r["c"][k] = max(r["c"].get(k, 0), v)
            else:
                r["c"][k] = r["c"].get(k, 0) + v
    owner = {s["id"]: pass_of(s) for s in art["spans"]}
    for sp, launch, finish in art["tasks"]:
        p = owner.get(sp)
        if p is not None and p["id"] in rolled:
            rolled[p["id"]]["tasks"].append((launch, finish))
    for pid, r in rolled.items():
        p = spans[pid]
        r["busy_ms"] = M.union_ms(r["tasks"], p["start_ms"], p["end_ms"])
    return {r["name"]: r for r in rolled.values()}


def per_layer(art):
    """Median over the traced steady passes; writes also count the first
    pass, where a fresh session lands its artifacts."""
    ncores = art["cores"]
    rolled = layer_rollup(art)
    passes = [r for name, r in rolled.items() if name.startswith("steady")]

    def med(f):
        return statistics.median(f(r) for r in passes)

    def c(k, scale=1.0):
        return med(lambda r: r["c"].get(k, 0) * scale)

    def with_first(k, scale=1.0):
        return rolled["first0"]["c"].get(k, 0) * scale + c(k, scale)

    traced = [p["wall_s"] for p in steady(art) if p["traced"]]
    untraced = [p["wall_s"] for p in steady(art) if not p["traced"]]
    mb, s = 1e-6, 1e-3
    return {
        "tables.warm_s": (art["setup"]["warm_s"], "s"),
        "tables.file_read_mb": (c("file_bytes", mb), "MB"),
        "tables.mem_scan_frac": (med(lambda r: r["c"].get("mem_scans", 0) /
                                     max(1, r["c"].get("table_scans", 0))), "frac"),
        "ops.build_s": (med(lambda r: r["build_ms"] * s), "s"),
        "ops.build_jobs": (med(lambda r: r["build_jobs"]), "count"),
        "catalyst.analysis_ms": (c("analysis_ms"), "ms"),
        "catalyst.optimizer_ms": (c("optimization_ms"), "ms"),
        "catalyst.planning_ms": (c("planning_ms"), "ms"),
        "driver.actions": (c("actions"), "count"),
        "driver.jobs": (c("jobs"), "count"),
        "driver.stages": (c("stages"), "count"),
        "driver.tasks": (c("tasks"), "count"),
        "driver.gap_s": (med(lambda r: (r["wall_ms"] - r["busy_ms"]) * s), "s"),
        "exec.run_s": (c("run_ms", s), "s"),
        "exec.cpu_s": (c("cpu_ms", s), "s"),
        "exec.gc_s": (c("gc_ms", s), "s"),
        "exec.sched_delay_s": (c("sched_delay_ms", s), "s"),
        "exec.busy_frac": (med(lambda r: M.busy_frac(r["c"].get("task_ms", 0), ncores,
                                                     r["wall_ms"])), "frac"),
        "exec.peak_mem_mb": (c("peak_mem_bytes", mb), "MB"),
        "exec.failed_tasks": (c("failed_tasks"), "count"),
        "shuffle.write_mb": (c("shuffle_write_bytes", mb), "MB"),
        "shuffle.read_mb": (c("shuffle_read_bytes", mb), "MB"),
        "shuffle.fetch_wait_s": (c("fetch_wait_ms", s), "s"),
        "shuffle.spill_mb": (c("spill_bytes", mb), "MB"),
        "streams.batches": (c("batches"), "count"),
        "streams.trigger_s": (c("trigger_ms", s), "s"),
        "streams.state_commit_ms": (c("state_commit_ms"), "ms"),
        "streams.wal_commit_ms": (c("wal_commit_ms"), "ms"),
        "streams.state_rows": (c("state_rows"), "count"),
        "storage.write_mb": (with_first("output_bytes", mb), "MB"),
        "storage.files_written": (with_first("files_written"), "count"),
        "jvm.cold_pass_s": (wall_of(art, "cold"), "s"),
        "host.calib_s": (art["calib_s"], "s"),
        "trace.overhead_s": (statistics.median(traced) - statistics.median(untraced), "s"),
    }


def summarize_trace(art, path):
    """Spans with self times, per-query rows for layer_table.py."""
    selfs = M.self_times(art["spans"])
    for sp in art["spans"]:
        sp["self_ms"] = selfs[sp["id"]]
    by_kind = {}
    for sp in art["spans"]:
        by_kind[sp["kind"]] = by_kind.get(sp["kind"], 0) + sp["self_ms"]
    art["self_ms_by_kind"] = by_kind
    with open(path, "w") as f:
        json.dump(art, f)
    print("perfbench: self time by span kind (ms): " +
          ", ".join(f"{k} {v:.0f}" for k, v in sorted(by_kind.items())))
    print(f"perfbench: spans and tasks in {path}")


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = load("workloads.json")
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; "
                 f"choose from {sorted(workloads)}")
    w = workloads[a.workload]
    expected = load("expected_hashes.json")
    cp = build()

    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    art_path = os.path.join(work, "artifact.json")
    run_jvm(cp, work, {"fixture": FIXTURE, "queries": ",".join(w["queries"]),
                       "tables": ",".join(w["tables"]), "seed": a.seed,
                       "seconds": a.seconds,
                       "min_steady": MIN_STEADY, "cores": cores(),
                       "trace": a.trace, "out": art_path})
    with open(art_path) as f:
        art = json.load(f)
    bad = check_outputs(art["output_dir"], w["queries"], expected)
    for q in bad:
        print(f"perfbench: {q}: returned rows do not match the recorded hash",
              file=sys.stderr)
    for fl in art["failures"]:
        print(f"perfbench: pass {fl['pass']} {fl['query']} failed: {fl['error']}",
              file=sys.stderr)
    attempted, failed, e2e = end_to_end(art, bad)
    if a.trace:
        print(f"perfbench: host.calib_s {art['calib_s']:.3f} s "
              "(host speed probe, not a metric of the program)")
        summarize_trace(art, os.path.join(work, "trace.json"))
        out = per_layer(art)
    else:
        out = e2e
    with open(os.path.join(work, "orders.json"), "w") as f:
        json.dump([p["order"] for p in art["passes"]], f)
    for d in ("warehouse", "tmp", "local", "out"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": not bad and not art["failures"],
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
