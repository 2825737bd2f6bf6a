"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def normalized_counts(texts):
    """The program's normalization (TextPipeline.normalize and tokens):
    delete all but [a-zA-Z0-9\\s], lower-case, split on whitespace."""
    c = Counter()
    for t in texts:
        c.update(w for w in re.split(r"\s+", re.sub(r"[^a-zA-Z0-9\s]", "", t).lower()) if w)
    return c


class CorpusTest(unittest.TestCase):
    TOKENS = 20_000

    def make(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        return d, gen.corpus(seed, d, tokens=self.TOKENS)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_bytes_and_counts(self):
        a, ca = self.make(7)
        b, cb = self.make(7)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ca, cb)

    def test_other_seed_other_corpus(self):
        a, ca = self.make(7)
        b, cb = self.make(8)
        self.assertNotEqual(digest(a), digest(b))
        self.assertNotEqual(ca, cb)

    def test_recorded_counts_are_what_normalization_gives(self):
        import pyarrow.parquet as pq
        d, counts = self.make(3)
        texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        self.assertEqual(normalized_counts(texts), Counter(counts))
        self.assertEqual(sum(counts.values()), self.TOKENS)
        self.assertTrue(all(t.isascii() for t in texts))
        raw = " ".join(texts)
        self.assertNotEqual(raw.lower(), raw)  # mixed case
        self.assertRegex(raw, r"[a-z][-'._&][a-z]")  # punctuation inside tokens
        self.assertRegex(raw, r"\S\s{2,}\S")  # whitespace runs

    def test_vocabulary_is_large_and_distinct(self):
        import numpy as np
        words = gen.vocabulary(np.random.Generator(np.random.PCG64(1)), gen.VOCAB)
        self.assertEqual(len(set(words)), gen.VOCAB)
        self.assertGreaterEqual(gen.VOCAB, 100_000)
        self.assertTrue(all(re.fullmatch(r"[a-z]+[0-9]{0,2}", w) for w in words[:1000]))


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.fixture(5, a, sf=0.001)
            gen.fixture(5, b, sf=0.001)
            gen.fixture(6, c, sf=0.001)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            self.assertEqual(sorted(os.listdir(a)),
                             sorted(f"{n}.parquet" for n in
                                    "region nation customer supplier part orders lineitem "
                                    "events documents embeddings".split()))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(100))
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 89)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 100 * 89 / 99)

    def test_order_does_not_matter(self):
        xs = list(range(40))
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))
        self.assertEqual(metrics.tail(xs)[0], 29)

    def test_never_below_the_upper_median(self):
        self.assertEqual(metrics.tail(range(11))[0], 5)
        self.assertEqual(metrics.tail(range(20))[0], 10)

    def test_no_higher_percentile_qualifies(self):
        for n in (21, 22, 57, 300):
            value, _, beyond = metrics.tail(range(n))
            self.assertEqual(beyond, 10)
            self.assertEqual(sum(1 for x in range(n) if x > value), 10)

    def test_too_few_samples_fall_back_to_upper_median(self):
        self.assertEqual(metrics.tail([3, 1, 2, 4]), (3, 100 * 2 / 3, 1))
        self.assertEqual(metrics.tail([2.5]), (2.5, 100.0, 0))


class SpanTest(unittest.TestCase):
    def test_self_time_is_duration_minus_children_cover(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (2, 5), (4.5, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (8, 20), (30, 40)]), 6)
        self.assertEqual(metrics.self_time((0, 10), [(-1, 11)]), 0)


def synthetic_raw():
    """Two timed ops, one traced; each listener record sits inside op 1."""
    return {
        "setup_s": [9.0, 2.0, 2.5], "timed_wall_s": 4.0, "vmhwm_kb": 2048,
        "loadavg_start": 0.5, "loadavg_end": 0.7,
        "leaks": {"streaming.active_after": 0, "spark.storage.persisted_after": 0,
                  "sources.tmp_dirs_after": 0},
        "ops": [
            {"id": 1, "name": "a", "phase": "timed", "pass": 0, "traced": True,
             "start": 0.0, "end": 1000.0, "error": None, "sink_bytes": 10,
             "catalog_files": 2, "catalog_bytes": 300},
            {"id": 2, "name": "a", "phase": "timed", "pass": 1, "traced": False,
             "start": 1000.0, "end": 3000.0, "error": None, "sink_bytes": 0,
             "catalog_files": 0, "catalog_bytes": 0}],
        "spans": [[1, "Sessions.local", -50.0, -10.0, 0, -1],
                  [2, "operators.build", 0.0, 100.0, 3, 1],
                  [3, "op:a", 0.0, 1000.0, 0, 1]],
        "jobs": [[0, 200.0, 400.0], [1, 300.0, 600.0], [2, 1500.0, 1600.0]],
        "tasks": [["0.0", 210.0, 390.0, 100.0, 50.0, 0.0, 10.0, 64, 0, 0.0, 0],
                  ["0.0", 210.0, 390.0, 300.0, 250.0, 0.0, 10.0, 64, 0, 0.0, 0]],
        "qes": [[150.0, 40.0, 100, 25]],
        "progress": [[250.0, 0, 0, 30.0, 10.0, 5.0, 7]],
    }


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        values, ctx = metrics.end_to_end(synthetic_raw(), 4_000_000)
        self.assertEqual(sorted(values), sorted(metrics.END_TO_END))
        self.assertEqual(values["latency_p50_s"], 1.5)
        self.assertEqual(values["setup_s"], 2.5)
        self.assertEqual(values["ops_per_s"], 0.5)
        self.assertAlmostEqual(values["input_mb_s"], 4 / 1.5)
        self.assertEqual(values["peak_rss_mb"], 2.0)
        self.assertEqual(ctx["timed_samples"], 2)

    def test_per_layer_charges_records_to_the_traced_op(self):
        m = metrics.per_layer(synthetic_raw())
        self.assertEqual(m["spark.scheduler.jobs"], 2)  # job 2 is in the untraced op
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 0.6)
        self.assertAlmostEqual(m["operators.build_s"], 0.1)
        self.assertAlmostEqual(m["plans.plan_s"], 0.04)
        self.assertAlmostEqual(m["operators.combine_ratio"], 0.25)
        self.assertAlmostEqual(m["spark.executor.cpu_over_run"], 0.75)
        self.assertAlmostEqual(m["spark.shuffle.skew"], 300 / 200)
        self.assertEqual(m["streaming.batches"], 1)
        self.assertEqual(m["streaming.empty_batch_ratio"], 1.0)
        self.assertEqual(m["sources.v2.files_written"], 2)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 0.5)
        self.assertAlmostEqual(m["Sessions.build_s"], 0.04)


class BenchmarkFileTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)
        with open(os.path.join(BENCH, "layers.json")) as fh:
            cls.layers = json.load(fh)

    def test_workloads_match_the_runner_and_say_why_and_how_big(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(tuple(names), run.WORKLOADS)
        for w in self.bench["workloads"]:
            self.assertRegex(w["why"], r"\d.*(MB|sf0\.\d+)")
            self.assertIn(w["name"], self.layers["workloads"])
            self.assertTrue(self.layers["workloads"][w["name"]]["input"])

    def test_every_per_layer_metric_is_mapped_to_a_layer(self):
        declared = [m["name"] for m in self.bench["per_layer"]]
        self.assertEqual(sorted(declared), sorted(self.layers["metrics"]))
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        workloads = set(run.WORKLOADS) | {"*"}
        for name, entry in self.layers["metrics"].items():
            for metric, workload in entry["moves"]:
                self.assertIn(metric, e2e, name)
                self.assertIn(workload, workloads, name)

    def test_the_runner_reports_exactly_the_declared_metrics(self):
        declared = sorted(m["name"] for m in self.bench["per_layer"])
        self.assertEqual(sorted(metrics.per_layer(synthetic_raw())), declared)
        self.assertEqual(sorted(metrics.END_TO_END),
                         sorted(m["name"] for m in self.bench["end_to_end"]))
        for m in self.bench["end_to_end"]:
            self.assertEqual(metrics.UNITS[m["name"]], m["unit"])
        for m in self.bench["per_layer"]:
            self.assertEqual(metrics.layer_unit(m["name"]), m["unit"])


if __name__ == "__main__":
    unittest.main()
