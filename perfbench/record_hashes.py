#!/usr/bin/env python3
"""Record the canonical hash of every workload query's rows, confirmed
against DuckDB.

    python3 perfbench/record_hashes.py --source DIR            # check and rewrite
    python3 perfbench/record_hashes.py --source DIR --check    # check only

DIR is the read-only seed-42 sf0.1 fixture that fixture/sf0.1 was copied
from; every copy must equal its original byte for byte (sha256), or
nothing is recorded. Then it runs each workload once (first pass plus two
steady passes), hashes the rows its last pass returned, runs each query's
oracle SQL in DuckDB over the same fixture and hashes that too. Writes expected_hashes.json only if
every query with an oracle matches it; queries without an oracle are
recorded from the engine alone and listed as such.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import duckdb

import metrics as M
import run


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def check_copies(source):
    """The vendored tables must be byte-for-byte copies of the originals."""
    for p in sorted(os.listdir(run.FIXTURE)):
        orig = os.path.join(source, p)
        want = sha256(orig) if os.path.exists(orig) else None
        if want != sha256(os.path.join(run.FIXTURE, p)):
            sys.exit(f"record_hashes: fixture/sf0.1/{p} is not a copy of {orig}")
        print(f"fixture copy  {p:22s} {want[:16]} same as {orig}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--source", required=True,
                    help="the seed-42 sf0.1 fixture fixture/sf0.1 was copied from")
    ap.add_argument("--check", action="store_true",
                    help="compare with expected_hashes.json instead of rewriting it")
    a = ap.parse_args()
    check_copies(a.source)
    check_only = a.check
    cp = run.build()
    con = duckdb.connect()
    for p in sorted(os.listdir(run.FIXTURE)):
        name = p[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(run.FIXTURE, p)}'")
    hashes, unconfirmed, mismatched = {}, [], []
    for wname, w in run.load("workloads.json").items():
        work = os.path.join(run.BUILD, "record", wname)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        queries = ",".join(w["queries"])
        run.run_jvm(cp, work, {"mode": "oracles", "queries": queries,
                               "out": os.path.join(work, "oracles.json")})
        with open(os.path.join(work, "oracles.json")) as f:
            oracles = json.load(f)
        shutil.rmtree(os.path.join(work, "tmp"))
        art_path = os.path.join(work, "artifact.json")
        run.run_jvm(cp, work, {"fixture": run.FIXTURE, "queries": queries,
                               "tables": ",".join(w["tables"]), "seed": 0,
                               "seconds": 0, "min_steady": 2,
                               "cores": run.cores(), "trace": 0, "out": art_path})
        with open(art_path) as f:
            art = json.load(f)
        if art["failures"]:
            sys.exit(f"record_hashes: {wname} failed: {art['failures']}")
        for q in w["queries"]:
            got = M.canon_hash(con.execute(
                f"SELECT * FROM '{art['output_dir']}/{q}/*.parquet'").df())
            if q not in oracles:
                unconfirmed.append(q)
            elif M.canon_hash(con.execute(oracles[q]).df()) != got:
                mismatched.append(q)
            hashes[q] = got
            print(f"{wname:13s} {q:22s} {got[:16]} "
                  f"{'no oracle' if q not in oracles else 'duckdb ok' if q not in mismatched else 'DUCKDB MISMATCH'}")
    if mismatched:
        sys.exit(f"record_hashes: engine and DuckDB disagree on {mismatched}")
    path = os.path.join(run.HERE, "expected_hashes.json")
    if check_only:
        with open(path) as f:
            old = json.load(f)
        stale = sorted(q for q in hashes if old.get(q) != hashes[q])
        sys.exit(f"record_hashes: recorded hashes differ for {stale}" if stale else 0)
    with open(path, "w") as f:
        json.dump(dict(sorted(hashes.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {path}; without an oracle: {unconfirmed or 'none'}")


if __name__ == "__main__":
    main()
