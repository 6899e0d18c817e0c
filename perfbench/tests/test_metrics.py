import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def op(name, t, module="vector", kind="read", traced=False, **kw):
    o = {"name": name, "total_s": t, "module": module, "kind": kind, "traced": traced, "ok": True,
         "gc_s": 0.0, "layers": {"query.build": t / 2, "query.action": t / 2}, "rows": 1,
         "digest": "d"}
    o.update(kw)
    return o


TRACE = {k: 1 for k in ["jobs", "foreign_jobs", "stages", "tasks", "actions", "batches",
                        "stream_rows", "records_read", "records_written",
                        "store_files_read", "store_bytes_read", "shuffle_read_b",
                        "shuffle_write_b", "spill_b", "input_b"]}
TRACE.update({k: 0.1 for k in ["job_wall_s", "stage_wall_s", "sched_wait_s", "task_run_s",
                               "task_cpu_s", "analysis_s", "optimization_s", "planning_s",
                               "batch_s"]})


class PercentileTest(unittest.TestCase):
    def test_interpolated_quantiles(self):
        xs = list(range(1, 11))
        self.assertEqual(metrics.percentile(xs, 0.5), 5.5)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 0.5), 5.5)
        self.assertEqual(metrics.percentile(list(range(1, 12)), 0.5), 6)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 101)), 0.9), 90.1)

    def test_sample_count_rule(self):
        self.assertEqual(metrics.min_samples(0.5), 10)
        self.assertEqual(metrics.min_samples(0.9), 100)
        self.assertEqual(metrics.min_samples(0.99), 1000)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(99)), 0.9)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(9)), 0.5)
        # at the minimum, ten samples lie beyond p90
        xs = list(range(100))
        self.assertEqual(sum(x > metrics.percentile(xs, 0.9) for x in xs), 10)


class MetricsTest(unittest.TestCase):
    def record(self):
        ops = [op("q%02d" % i, 0.1 * (i + 1), **{"pass": 0}) for i in range(10)]
        ops += [op("q%02d" % i, 0.1 * (i + 1), traced=True, trace=dict(TRACE), **{"pass": 1})
                for i in range(10)]
        return {"meta": {"cpus": 4}, "setup_s": 12.0,
                "setup_phases": {"jvm_s": 0.5, "session_s": 2.5, "warmup_s": 9.0}, "ops": ops,
                "passes": [{"traced": False, "memo_entries": 1, "cached_mb": 1.0},
                           {"traced": True, "memo_entries": 3, "cached_mb": 2.0}],
                "store": {}, "heap_after_gc_mb": 100.0}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.record())
        self.assertEqual(m["setup_s"], 12.0)
        self.assertAlmostEqual(m["throughput_ops"], 20 / 11.0)
        self.assertEqual([k for k, _ in metrics.END_TO_END], list(m))

    def test_per_layer_has_every_metric_per_pass(self):
        m = metrics.per_layer(self.record())
        self.assertEqual(sorted(k for k, _ in metrics.PER_LAYER), sorted(m))
        self.assertEqual(m["spark.jobs"], 10)
        self.assertEqual(m["memo.entries"], 3)
        self.assertAlmostEqual(m["latency.p50_s"], 0.55)
        self.assertAlmostEqual(m["vector.busy_s"], 5.5)
        self.assertEqual(m["setup.warmup_s"], 9.0)
        self.assertAlmostEqual(m["trace.overhead"], 1.0)
        self.assertAlmostEqual(m["spark.busy_ratio"], 1.0 / (5.5 * 4))

    def test_trace_overhead_leaves_out_the_warming_pass(self):
        rec = self.record()
        rec["ops"] += [dict(o, total_s=o["total_s"] / 2, **{"pass": 2}) for o in rec["ops"][:10]]
        self.assertAlmostEqual(metrics.per_layer(rec)["trace.overhead"], 0.5)

    def test_wrong_results(self):
        rec = self.record()
        golden = {"q%02d" % i: {"rows": 1, "digest": "d"} for i in range(10)}
        self.assertEqual(metrics.wrong_results(rec, golden), 0)
        rec["ops"][0]["digest"] = "other"
        rec["ops"][1]["rows"] = 2
        rec["ops"][2]["ok"] = False  # failed ops count as failed, not wrong
        rec["ops"][2]["digest"] = "other"
        self.assertEqual(metrics.wrong_results(rec, golden), 2)
        del golden["q05"]
        self.assertEqual(metrics.wrong_results(rec, golden), 4)
        rec["passes"][0]["readback_ok"] = False
        self.assertEqual(metrics.wrong_results(rec, golden), 5)

    def test_live_stream_is_checked_against_its_batch_query(self):
        self.assertEqual(metrics.golden_name("s01_stream_tumbling_window.live"),
                         "s01_stream_tumbling_window")

    def test_write_ops_are_checked_by_the_model(self):
        rec = self.record()
        rec["ops"] = [op("entity_get", 0.1, module="unified", statement="ENTITY GET 'e:1'",
                         check="ok"),
                      op("entity_create", 0.1, module="unified", kind="write",
                         statement="ENTITY CREATE 'e:2'", check="wrong")]
        self.assertEqual(metrics.wrong_results(rec, {}), 1)


if __name__ == "__main__":
    unittest.main()
