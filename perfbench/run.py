#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload graph-loops --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (again whenever the
sources change), splits the events stream (once per checkout), runs
perfbench.Main, checks every op's output and prints the metrics as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The full record (metadata, every op, every trace) is written to
.bench_build/results/ for perfbench/diff.py. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys
import time

import bench
import metrics

WORKLOADS = ["graph-loops", "data-pipeline", "entity-writes"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(msg, flush=True)


def load_golden():
    with open(os.path.join(bench.HERE, "golden.json")) as f:
        return json.load(f)["queries"]


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    refused = [v for v in bench.REFUSED_ENV if os.environ.get(v)]
    if refused:
        raise bench.BenchError("refusing to run with %s set" % ", ".join(refused))
    cp = bench.classpath(log)
    stream = bench.stream_dir(log)
    golden = load_golden()
    # a run that had to build gets the whole JVM allowance (the first run
    # in a checkout may take longer); any other run must end within 180 s
    prepared = time.monotonic() - started
    budget = RUN_TIMEOUT_S if prepared > 30 else RUN_TIMEOUT_S - prepared

    work = os.path.join(bench.BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        bench.launch(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", bench.DATA, "--stream", stream, "--work", work, "--out", out,
                          "--cpus", str(bench.cpus())], work, budget)
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(record["ops"])
    failed = sum(1 for o in record["ops"] if not o["ok"])
    wrong = metrics.wrong_results(record, golden)
    if a.trace:
        values, spec = metrics.per_layer(record), metrics.PER_LAYER
    else:
        values, spec = metrics.end_to_end(record), metrics.END_TO_END
    record["meta"].update(commit=bench.git_commit(), source_digest=bench.source_digest(),
                          heap=bench.HEAP, data={"sf": bench.DATA_SF, "seed": bench.DATA_SEED})
    record["summary"] = {"attempted": attempted, "failed": failed, "wrong_results": wrong,
                         "failed_frac": failed / attempted, "metrics": values}

    results = os.path.join(bench.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, "%s-seed%d-trace%d-%d.json"
                        % (a.workload, a.seed, a.trace, int(time.time())))
    with open(path, "w") as f:
        json.dump(record, f)
    for op in record["ops"]:
        if not op["ok"]:
            log("# failed %s: %s" % (op.get("statement", op["name"]), op["error"]))
    log("# meta %s" % json.dumps(record["meta"], sort_keys=True))
    log("# record %s" % os.path.relpath(path, bench.ROOT))
    log("# failed_frac=%g wrong_results=%d passes=%d"
        % (failed / attempted, wrong, len(record["passes"])))
    print(json.dumps({"correct": failed == 0 and wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics.with_units(values, spec)}))


if __name__ == "__main__":
    try:
        main()
    except (bench.BenchError, ValueError, OSError) as e:
        print("error: %s" % e, file=sys.stderr)
        sys.exit(2)
