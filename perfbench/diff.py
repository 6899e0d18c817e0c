#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 perfbench/diff.py BEFORE AFTER

BEFORE and AFTER are run records of one workload written by
`run.py --trace 1` (.bench_build/results/<workload>-seed<n>-trace1-<time>.json).
It prints the change in every per-layer metric, the self time along
op -> layer -> Spark job -> stage, and the ops whose time moved most.
All figures are per traced pass.
"""
import json
import sys

import metrics


def load(path):
    with open(path) as f:
        return json.load(f)


def self_times(record):
    """Per-pass self seconds at each level of op -> layer -> job -> stage."""
    traced = [o for o in record["ops"] if o["traced"]]
    n = max(1, sum(1 for p in record["passes"] if p["traced"]))
    out = {"op": 0.0, "job": 0.0, "stage": 0.0}
    for o in traced:
        t = o.get("trace") or {}
        by_layer = t.get("job_s_by_layer", {})
        out["op"] += o["total_s"] - sum(o["layers"].values())
        for name, s in o["layers"].items():
            key = "layer " + name
            out[key] = out.get(key, 0.0) + s - by_layer.get(name, 0.0)
        out["job"] += t.get("job_wall_s", 0.0) - t.get("stage_wall_s", 0.0)
        out["stage"] += t.get("stage_wall_s", 0.0)
    return {k: v / n for k, v in out.items()}


def op_times(record):
    traced = [o for o in record["ops"] if o["traced"]]
    n = max(1, sum(1 for p in record["passes"] if p["traced"]))
    out = {}
    for o in traced:
        out[o["name"]] = out.get(o["name"], 0.0) + o["total_s"] / n
    return out


def rows(a, b):
    for k in sorted(set(a) | set(b), key=lambda k: (k not in a or k not in b, k)):
        x, y = a.get(k, 0.0), b.get(k, 0.0)
        pct = "%+.1f%%" % (100.0 * (y - x) / x) if x else "n/a"
        yield k, x, y, y - x, pct


def report(workload, before, after, top=15, out=sys.stdout):
    w = out.write
    w("== %s  (%s seed %s -> %s seed %s)\n" % (
        workload, before["meta"].get("commit") or before["meta"].get("source_digest"),
        before["meta"]["seed"],
        after["meta"].get("commit") or after["meta"].get("source_digest"), after["meta"]["seed"]))
    la, lb = metrics.per_layer(before), metrics.per_layer(after)
    w("%-36s %14s %14s %14s %9s\n" % ("per-layer metric", "before", "after", "delta", "change"))
    for k, x, y, d, pct in rows(la, lb):
        w("%-36s %14.4f %14.4f %+14.4f %9s\n" % (k, x, y, d, pct))
    w("%-36s %14s %14s %14s %9s\n" % ("self time (s per pass)", "before", "after", "delta", "change"))
    for k, x, y, d, pct in rows(self_times(before), self_times(after)):
        w("%-36s %14.4f %14.4f %+14.4f %9s\n" % (k, x, y, d, pct))
    moved = sorted(rows(op_times(before), op_times(after)), key=lambda r: -abs(r[3]))[:top]
    w("%-36s %14s %14s %14s %9s\n" % ("op (s per pass)", "before", "after", "delta", "change"))
    for k, x, y, d, pct in moved:
        w("%-36s %14.4f %14.4f %+14.4f %9s\n" % (k[:36], x, y, d, pct))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    workload = before["meta"]["workload"]
    if after["meta"]["workload"] != workload:
        print("records of different workloads: %s, %s"
              % (workload, after["meta"]["workload"]), file=sys.stderr)
        return 2
    report(workload, before, after)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
