"""Metrics of one run, from the JVM's op records.

End-to-end metrics come from every timed op. Per-layer metrics come from
the traced passes and are normalised per pass (one pass runs every op of
the workload once), so runs of different lengths compare directly.
"""
import math

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_ops", "1/s"),
]

MODULES = ["vector", "graph", "pipeline", "text", "streaming", "unified"]

PER_LAYER = [
    ("latency.p50_s", "s"),
    ("setup.jvm_s", "s"), ("setup.session_s", "s"), ("setup.warmup_s", "s"),
    ("nql.parse_s", "s"), ("nql.compile_s", "s"), ("nql.parse_per_s", "1/s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.actions", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.foreign_jobs", "count"), ("spark.sched_wait_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.busy_ratio", "ratio"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("graph.build_s", "s"), ("graph.action_s", "s"), ("graph.jobs_per_op", "count"),
] + [("%s.busy_s" % m, "s") for m in MODULES] + [
    ("streaming.batches", "count"), ("streaming.rows_per_s", "1/s"),
    ("unified.log_files", "count"), ("unified.store_mb", "MB"),
    ("unified.files_read_per_read", "count"), ("unified.bytes_read_per_read", "B"),
    ("unified.rows_read_per_row_written", "ratio"), ("unified.write_job_s", "s"),
    ("unified.write_p50_s", "s"), ("unified.read_p50_s", "s"), ("unified.space_amp", "ratio"),
    ("memo.entries", "count"), ("memo.cached_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.heap_after_gc_mb", "MB"),
    ("trace.overhead", "ratio"),
]


def min_samples(q):
    """Fewest samples a q-quantile is reported from: 10 for the median,
    and 10 beyond the quantile above it (p90 needs 100). Runs here time
    10 to 24 ops, so the median is the only latency percentile."""
    if q <= 0.5:
        return 10
    return math.ceil(round(10.0 / (1.0 - q), 9))


def percentile(values, q):
    """q-quantile, interpolated between the two nearest order statistics
    (so the median of an even count is the mean of the middle two, and a
    small change in one op cannot make it jump across a gap between ops);
    refuses too few samples."""
    xs = sorted(values)
    if len(xs) < min_samples(q):
        raise ValueError("p%g needs at least %d samples, got %d"
                         % (q * 100, min_samples(q), len(xs)))
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def golden_name(op_name):
    """The reference digest an op is checked against: a live-stream op
    must produce exactly its batch query's result."""
    return op_name.split(".")[0]


def check_catalog_op(op, golden):
    """True when a successful catalog op's row count and digest match its
    DuckDB-anchored reference."""
    ref = golden.get(golden_name(op["name"]))
    return ref is not None and (op.get("rows"), op.get("digest")) == (ref["rows"], ref["digest"])


def wrong_results(record, golden):
    """Ops whose output failed its check, plus entity-store read-backs
    that did not reproduce the modelled state."""
    wrong = 0
    for op in record["ops"]:
        if not op["ok"]:
            continue
        if op["module"] == "unified" and "statement" in op:
            wrong += op.get("check") != "ok"
        else:
            wrong += not check_catalog_op(op, golden)
    wrong += sum(1 for p in record["passes"] if p.get("readback_ok") is False)
    return wrong


def throughput(ops):
    t = sum(o["total_s"] for o in ops)
    return len(ops) / t if t > 0 else 0.0


def end_to_end(record):
    return {
        "setup_s": record["setup_s"],
        "throughput_ops": throughput(record["ops"]),
    }


def _median(ops, kind=None):
    xs = [o["total_s"] for o in ops if kind is None or o["kind"] == kind]
    return percentile(xs, 0.5) if len(xs) >= min_samples(0.5) else 0.0


def per_layer(record):
    passes = [p for p in record["passes"] if p["traced"]]
    n = len(passes)
    if n == 0:
        raise ValueError("a traced run needs at least one traced pass")
    traced = [o for o in record["ops"] if o["traced"]]
    untraced = [o for o in record["ops"] if not o["traced"]]
    # the first pass also warms the JVM; the overhead ratio leaves it out
    warm_untraced = [o for o in untraced if o["pass"] > 0] or untraced
    cpus = record["meta"]["cpus"]

    def tr(key):
        return sum((o.get("trace") or {}).get(key, 0) for o in traced)

    def layer(name, ops=traced):
        return sum(o["layers"].get(name, 0.0) for o in ops)

    graph = [o for o in traced if o["module"] == "graph"]
    writes = [o for o in traced if o["kind"] == "write"]
    reads = [o for o in traced if o["kind"] == "read" and o["module"] == "unified"]
    parse_s = layer("nql.parse")
    parsed = sum(1 for o in traced if "nql.parse" in o["layers"])
    stream_s = tr("batch_s")
    written = sum(o["trace"]["records_written"] for o in writes)
    wall = sum(o["total_s"] for o in traced)
    store = record.get("store") or {}
    timing_ops = untraced or record["ops"]
    m = {
        "nql.parse_s": parse_s / n,
        "nql.compile_s": layer("nql.compile") / n,
        "nql.parse_per_s": parsed / parse_s if parse_s > 0 else 0.0,
        "catalyst.analysis_s": tr("analysis_s") / n,
        "catalyst.optimization_s": tr("optimization_s") / n,
        "catalyst.planning_s": tr("planning_s") / n,
        "catalyst.actions": tr("actions") / n,
        "spark.jobs": tr("jobs") / n,
        "spark.stages": tr("stages") / n,
        "spark.tasks": tr("tasks") / n,
        "spark.foreign_jobs": tr("foreign_jobs") / n,
        "spark.sched_wait_s": tr("sched_wait_s") / n,
        "spark.task_run_s": tr("task_run_s") / n,
        "spark.task_cpu_s": tr("task_cpu_s") / n,
        "spark.busy_ratio": tr("task_run_s") / (wall * cpus) if wall > 0 else 0.0,
        "spark.shuffle_read_mb": tr("shuffle_read_b") / 1e6 / n,
        "spark.shuffle_write_mb": tr("shuffle_write_b") / 1e6 / n,
        "spark.spill_mb": tr("spill_b") / 1e6 / n,
        "spark.input_mb": tr("input_b") / 1e6 / n,
        "graph.build_s": layer("query.build", graph) / n,
        "graph.action_s": layer("query.action", graph) / n,
        "graph.jobs_per_op": (sum(o["trace"]["jobs"] for o in graph) / len(graph)) if graph else 0.0,
        "streaming.batches": tr("batches") / n,
        "streaming.rows_per_s": tr("stream_rows") / stream_s if stream_s > 0 else 0.0,
        "unified.log_files": store.get("log_files", 0),
        "unified.store_mb": store.get("store_mb", 0.0),
        "unified.files_read_per_read":
            sum(o["trace"]["store_files_read"] for o in reads) / len(reads) if reads else 0.0,
        "unified.bytes_read_per_read":
            sum(o["trace"]["store_bytes_read"] for o in reads) / len(reads) if reads else 0.0,
        "unified.rows_read_per_row_written":
            sum(o["trace"]["records_read"] for o in writes) / written if written else 0.0,
        "unified.write_job_s": sum(o["trace"]["job_wall_s"] for o in writes) / n,
        "unified.space_amp": store.get("space_amp", 0.0),
        "memo.entries": max(p["memo_entries"] for p in passes),
        "memo.cached_mb": max(p["cached_mb"] for p in passes),
        "jvm.gc_s": sum(o["gc_s"] for o in traced) / n,
        "jvm.heap_after_gc_mb": record["heap_after_gc_mb"],
        "trace.overhead": throughput(traced) / throughput(warm_untraced) if untraced else 0.0,
    }
    m["latency.p50_s"] = _median(timing_ops)
    for phase in ["jvm", "session", "warmup"]:
        m["setup.%s_s" % phase] = record["setup_phases"][phase + "_s"]
    m["unified.write_p50_s"] = _median(timing_ops, "write")
    m["unified.read_p50_s"] = _median([o for o in timing_ops if o["module"] == "unified"], "read")
    for mod in MODULES:
        m["%s.busy_s" % mod] = sum(o["total_s"] for o in traced if o["module"] == mod) / n
    return m


def with_units(values, spec):
    return {name: {"value": values[name], "unit": unit} for name, unit in spec}
