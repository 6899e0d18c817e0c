#!/usr/bin/env python3
"""Pin the reference outputs in perfbench/golden.json.

    python3 perfbench/make_golden.py

Runs every catalog op of the workloads twice, in two JVMs, on the
benchmark's tables. Every op is anchored to the DuckDB oracle: its
reference is the row count and digest of its oracle SQL's result on
DuckDB, and both Spark runs must match it here, or the op is reported
and left out.
"""
import json
import os
import shutil
import sys
import threading

import duckdb

import bench
import digest
import metrics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def pin(cp, stream, i):
    """Pin run i; reused from .bench_build/pins/ unless --fresh."""
    out = os.path.join(bench.BUILD, "pins", "%s-%d.json" % (bench.source_digest(), i))
    if "--fresh" in sys.argv or not os.path.exists(out):
        work = os.path.join(bench.BUILD, "work", "pin-%d" % i)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        bench.launch(cp, ["--pin", "--data", bench.DATA, "--stream", stream, "--work", work, "--out", out,
                          "--cpus", str(bench.cpus())], work, 1800)
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        return json.load(f)


def duck(data, sql, timeout_s=120):
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2})
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
    finally:
        timer.cancel()
    names = [d[0] for d in cur.description]
    types = [str(d[1]) for d in cur.description]
    rows = cur.fetchall()
    return len(rows), digest.digest(names, rows, types)


def main():
    cp = bench.classpath(print)
    stream = bench.stream_dir(print)
    a, b = pin(cp, stream, 1), pin(cp, stream, 2)
    oracle = a["oracle"]
    rb = {o["name"]: o for o in b["ops"]}
    golden, problems = {}, []
    variants = [o for o in a["ops"] if metrics.golden_name(o["name"]) != o["name"]]
    for o in a["ops"]:
        if o in variants:
            continue
        n, o2 = o["name"], rb[o["name"]]
        if not (o["ok"] and o2["ok"]):
            problems.append("%s: failed: %s" % (n, o["error"] or o2["error"]))
            continue
        if n not in oracle:
            problems.append("%s: no oracle SQL" % n)
            continue
        try:
            rows, d = duck(bench.DATA, oracle[n])
        except duckdb.Error as e:
            problems.append("%s: oracle failed: %s" % (n, str(e).splitlines()[0]))
            continue
        mismatched = [x for x in (o, o2) if (x["rows"], x["digest"]) != (rows, d)]
        if mismatched:
            problems.append("%s: spark %s/%s != duckdb %s/%s"
                            % (n, mismatched[0]["rows"], mismatched[0]["digest"], rows, d))
            continue
        golden[n] = {"rows": rows, "digest": d}
    # a variant (the live stream) must reproduce its base query's result
    for o in variants:
        ref = golden.get(metrics.golden_name(o["name"]))
        if not (o["ok"] and ref and (o["rows"], o["digest"]) == (ref["rows"], ref["digest"])):
            problems.append("%s: does not reproduce %s" % (o["name"], metrics.golden_name(o["name"])))
    with open(os.path.join(bench.HERE, "golden.json"), "w") as f:
        json.dump({"data": {"sf": bench.DATA_SF, "seed": bench.DATA_SEED},
                   "queries": golden}, f, indent=1, sort_keys=True)
        f.write("\n")
    times = sorted(((o["total_s"], o["name"]) for o in a["ops"]), reverse=True)
    print("op seconds (first pin run):", " ".join("%s=%.2f" % (n, t) for t, n in times))
    for p in problems:
        print("PROBLEM", p)
    print("%d pinned to duckdb, %d problems" % (len(golden), len(problems)))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
