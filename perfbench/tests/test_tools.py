import json
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
import diff  # noqa: E402
import test_metrics  # noqa: E402


class StreamSplitTest(unittest.TestCase):
    def test_split_is_deterministic_time_ordered_and_complete(self):
        import pyarrow.parquet as pq
        src = os.path.join(bench.DATA, "events.parquet")
        with tempfile.TemporaryDirectory() as t:
            outs = [os.path.join(t, x) for x in "ab"]
            for o in outs:
                bench.split_events(src, o)
            files = [sorted(os.listdir(o)) for o in outs]
            self.assertEqual(len(files[0]), bench.STREAM_FILES)
            self.assertEqual(files[0], files[1])
            parts = [pq.read_table(os.path.join(outs[0], f)) for f in files[0]]
            for f in files[0]:
                self.assertEqual(pq.read_table(os.path.join(outs[0], f)),
                                 pq.read_table(os.path.join(outs[1], f)))
            ts = [v for p in parts for v in p.column("ts").to_pylist()]
            self.assertEqual(ts, sorted(ts))
            self.assertEqual(sorted(v for p in parts for v in p.column("event_id").to_pylist()),
                             sorted(pq.read_table(src).column("event_id").to_pylist()))


class ClasspathTest(unittest.TestCase):
    """One build output serves every digest, so returning to an earlier
    source tree must rebuild it, not reuse the classpath of its build."""

    def test_rebuilds_whenever_the_sources_change(self):
        saved = bench.BUILD, bench.source_digest, bench._build
        built = []
        digest = ["A"]
        try:
            with tempfile.TemporaryDirectory() as t:
                bench.BUILD = t
                bench.source_digest = lambda: digest[0]
                bench._build = lambda log: built.append(digest[0]) or "cp-" + digest[0]
                for d in ["A", "A", "B", "A", "A"]:
                    digest[0] = d
                    self.assertEqual(bench.classpath(lambda m: None), "cp-" + d)
                self.assertEqual(built, ["A", "B", "A"])
                with open(os.path.join(t, "built.json")) as f:
                    self.assertEqual(json.load(f)["digest"], "A")
        finally:
            bench.BUILD, bench.source_digest, bench._build = saved

    def test_failed_build_leaves_no_stamp(self):
        saved = bench.BUILD, bench.source_digest, bench._build
        try:
            with tempfile.TemporaryDirectory() as t:
                bench.BUILD = t
                bench.source_digest = lambda: "A"
                bench._build = lambda log: "cp-A"
                bench.classpath(lambda m: None)
                bench.source_digest = lambda: "B"

                def fail(log):
                    raise bench.BenchError("build failed")
                bench._build = fail
                with self.assertRaises(bench.BenchError):
                    bench.classpath(lambda m: None)
                self.assertFalse(os.path.exists(os.path.join(t, "built.json")))
        finally:
            bench.BUILD, bench.source_digest, bench._build = saved


class DiffTest(unittest.TestCase):
    def record(self, scale):
        rec = test_metrics.MetricsTest().record()
        rec["meta"].update(workload="data-pipeline", seed=1, commit="c")
        for o in rec["ops"]:
            o["total_s"] *= scale
        return rec

    def test_self_times_split_op_layer_job_stage(self):
        s = diff.self_times(self.record(1.0))
        self.assertAlmostEqual(s["stage"], 1.0)
        self.assertAlmostEqual(s["job"], 0.0)
        self.assertAlmostEqual(s["op"], 0.0)
        self.assertAlmostEqual(s["layer query.build"] + s["layer query.action"], 5.5)

    def test_report_lists_every_metric_and_mover(self):
        out = io.StringIO()
        diff.report("data-pipeline", self.record(1.0), self.record(2.0), out=out)
        text = out.getvalue()
        for name in ["spark.jobs", "trace.overhead", "self time", "layer query.build", "q09"]:
            self.assertIn(name, text)


if __name__ == "__main__":
    unittest.main()
