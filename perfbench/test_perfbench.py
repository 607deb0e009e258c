"""Self-tests of the benchmark's own code.

    python3 perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

TABLES = ("events", "documents", "embeddings")


def read(d):
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in TABLES}


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = cls.tmp.name
        cls.a = read(gen.generate(os.path.join(root, "a"), 7))
        cls.b = read(gen.generate(os.path.join(root, "b"), 7))
        cls.c = read(gen.generate(os.path.join(root, "c"), 8))
        cls.props = gen.properties(gen.data_dir(os.path.join(root, "a"), 7))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        for t in TABLES:
            self.assertTrue(self.a[t].equals(self.b[t]), t)

    def test_other_seed_other_inputs(self):
        for t in TABLES:
            self.assertFalse(self.a[t].equals(self.c[t]), t)

    def test_existing_directory_is_not_rewritten(self):
        d = gen.data_dir(os.path.join(self.tmp.name, "a"), 7)
        before = os.stat(os.path.join(d, "events.parquet")).st_mtime_ns
        self.assertEqual(gen.generate(os.path.join(self.tmp.name, "a"), 7), d)
        self.assertEqual(os.stat(os.path.join(d, "events.parquet")).st_mtime_ns, before)

    def test_properties_of_the_test_tables(self):
        p = self.props
        self.assertEqual((p["events_rows"], p["event_types"], p["users"]), (100_000, 5, 1_500))
        self.assertAlmostEqual(p["ts_span_days"], 30.0, delta=0.01)
        self.assertEqual(p["lang_share"].keys(), {"de", "en", "es", "fr", "zh"})
        self.assertEqual(p["near_dup_share"], 0.05)
        self.assertEqual(p["exact_dup_share"], 0.0016)
        self.assertEqual((p["embedding_dim"], p["labels"]), (64, 10))
        self.assertEqual(self.a["events"].schema.field("ts").type.unit, "us")


class TailPercentileTest(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(layers.tail_percentile([float(i) for i in range(99)], 0.9))
        self.assertIsNotNone(layers.tail_percentile([float(i) for i in range(100)], 0.9))

    def test_ten_samples_lie_beyond_p90(self):
        samples = [float(i) for i in range(100)]
        p90 = layers.tail_percentile(samples, 0.9)
        self.assertEqual(sum(s > p90 for s in samples), 10)


def span(i, parent, kind, start, end, name="q", **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "start": start,
            "end": end, "attrs": attrs}


class EndToEndTest(unittest.TestCase):
    def test_throughput_is_the_median_untraced_pass(self):
        res = {"passes": [{"traced": False, "wall_s": 2.0, "n": 4},
                          {"traced": True, "wall_s": 9.0, "n": 4},
                          {"traced": False, "wall_s": 8.0, "n": 4},
                          {"traced": False, "wall_s": 1.0, "n": 4}],
               "samples": [["q", 0.5, p] for p in range(4) for _ in range(4)],
               "cold_pass_s": 3.0, "setup_s": [5.0, 1.0, 2.0],
               "heap_live_peak_mb": 1.0}
        e2e, samples = run.end_to_end(res, {0, 2, 3})
        self.assertEqual(e2e["queries_per_s"][0], 2.0)
        self.assertEqual(len(samples), 12)
        self.assertEqual(e2e["setup_s"][0], 2.0)


class SpanArithmeticTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(layers.union_ms([(0, 10), (5, 20)], lo=8, hi=12), 4)
        self.assertEqual(layers.union_ms([]), 0)

    def test_self_time(self):
        parent = span(1, -1, "build", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 50), span(4, 1, "job", 90, 120)]
        self.assertEqual(layers.self_ms(parent, kids), 100 - 40 - 10)

    def test_query_layers_on_a_hand_built_tree(self):
        # query 0..200: build 0..80 (pin job 10..30, schema job 32..36,
        # stream 40..70 holding a job 45..65), write 80..195 (phases
        # 80..90, 90..95, 95..100; job 100..180 with one stage); 5 ms
        # after the write.
        spans = [
            span(1, -1, "query", 0, 200, gc_ms=3, codegen_compiles=2, rdd_block_bytes=1048576,
                 replay_stage_s=0.004, replay_wall_s=0.03),
            span(2, 1, "build", 0, 80),
            span(3, 1, "write", 80, 195),
            span(4, 2, "job", 10, 30, stages_skipped=0, pin=1),
            span(13, 2, "job", 32, 36, stages_skipped=0, pin=0),
            span(5, 2, "stream", 40, 70, batches=1, add_batch_ms=20, wal_ms=3,
                 state_commit_ms=2, state_rows=10, state_bytes=2048),
            span(6, 5, "batch", 42, 68, add_batch_ms=20, input_rows=5),
            span(7, 5, "job", 45, 65, stages_skipped=0, pin=0),
            span(8, 3, "phase", 80, 90, "analysis"),
            span(9, 3, "phase", 90, 95, "optimization"),
            span(10, 3, "phase", 95, 100, "planning", exchanges=2),
            span(11, 3, "job", 100, 180, stages_skipped=1, pin=0),
            span(12, 11, "stage", 100, 180, tasks=4, task_run_ms=240, task_cpu_ns=2e8,
                 straggler_ms=7, shuffle_write_bytes=0, shuffle_read_bytes=0,
                 spill_bytes=0, input_rows=100, input_bytes=1000),
        ]
        tree = layers.Tree(spans)
        r = layers.query_layers(tree, spans[0])
        self.assertEqual(r["wall_ms"], 200)
        self.assertEqual(r["entry_ms"], 80 - 20 - 4 - 30)    # build minus its jobs and stream
        self.assertEqual(r["stream_nonjob_ms"], 30 - 20)     # stream minus its job
        self.assertEqual((r["analysis_ms"], r["optimize_ms"], r["plan_ms"]), (10, 5, 5))
        self.assertEqual(r["job_ms"], 20 + 4 + 20 + 80)
        self.assertEqual(r["gap_ms"], 5 + 15)                # after write + rest of write
        self.assertEqual(r["residual_ms"], 0)
        self.assertEqual((r["pin_jobs"], r["pin_job_ms"], r["n_jobs"]), (1, 20, 4))
        self.assertEqual((r["exchanges"], r["stages_skipped"], r["tasks"]), (2, 1, 4))
        self.assertTrue(layers.reconciles(r))

        m, _ = layers.metrics(spans, passes=1, cores=4)
        self.assertAlmostEqual(m["exec.job_wall_s"], 0.124)
        self.assertAlmostEqual(m["driver.s"], 0.076)
        self.assertAlmostEqual(m["exec.core_util"], 0.24 / (0.124 * 4))
        self.assertAlmostEqual(m["entry.pin_mb"], 1.0)
        self.assertAlmostEqual(m["streaming.start_s"], 0.01)
        self.assertAlmostEqual(m["share.exec"], 0.62)
        self.assertAlmostEqual(m["share.streaming"], 0.15)


if __name__ == "__main__":
    unittest.main()
