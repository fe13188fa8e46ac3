"""Tests of the benchmark's own logic. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import gen
import stats

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".bench_build")


def span(idx, name, layer, start, end, parent=-1, op="pb-traced-0"):
    return {"idx": idx, "name": name, "layer": layer, "start": start, "end": end,
            "parent": parent, "op": op}


def job(start, end, op="pb-traced-0"):
    return {"start": start, "end": end, "op": op}


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.p50([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.p50([5, 1, 3]), 3)
        self.assertIsNone(stats.p50([]))

    def test_p90_needs_100_samples(self):
        self.assertIsNone(stats.p90(list(range(99))))
        self.assertEqual(stats.p90(list(range(1, 101))), 90)
        self.assertEqual(stats.p90(list(range(1, 201))), 180)

    def test_timing_reports_count(self):
        t = stats.timing([1.0] * 50)
        self.assertEqual((t["n"], t["p50"], t["p90"]), (50, 1.0, None))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_jobs_attach_to_innermost_open_span(self):
        spans = [span(0, "op", "harness", 0, 100), span(1, "lang.run", "graft.lang", 10, 60, 0)]
        got = stats.attach_jobs(spans, [job(20, 30), job(70, 80), job(20, 30, op="other")])
        self.assertEqual({k: len(v) for k, v in got.items()}, {1: 1, 0: 1})

    def test_self_time_subtracts_children(self):
        spans = [span(0, "op", "harness", 0, 100),
                 span(1, "lang.run", "graft.lang", 10, 60, 0),
                 span(2, "materialize", "spark.driver", 60, 90, 0)]
        jobs = [job(20, 30), job(25, 40), job(65, 85)]
        st = stats.self_times(spans, jobs)
        self.assertEqual(st["harness"], 20)  # 100 - 50 - 30
        self.assertEqual(st["graft.lang"], 30)  # 50 - union(20..40)
        self.assertEqual(st["spark.driver"], 10)  # 30 - 20
        self.assertEqual(st["spark.jobs"], 40)
        self.assertEqual(sum(st.values()), 100)


class Generator(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def gen(self, workload, seed, name):
        return gen.generate(workload, seed, os.path.join(self.dir, name))

    def test_script_inputs_repeat_per_seed(self):
        a = self.gen("script_write", 5, "a")
        self.assertEqual(a, self.gen("script_write", 5, "b"))
        self.assertNotEqual(a, self.gen("script_write", 6, "c"))

    def test_curate_inputs_repeat_per_seed(self):
        a = self.gen("curate_batch", 5, "a")
        self.assertEqual(a, self.gen("curate_batch", 5, "b"))
        self.assertNotEqual(a, self.gen("curate_batch", 6, "c"))

    def test_op_stream_follows_the_cycle_with_fresh_literals(self):
        self.gen("script_write", 5, "a")
        with open(os.path.join(self.dir, "a", "ops.jsonl")) as f:
            ops = [o for o in map(json.loads, f) if o["id"] >= 0]
        cycle = gen.CYCLES["script_write"]
        self.assertEqual([o["cls"] for o in ops[:2 * len(cycle)]], cycle * 2)
        lookups = [o["script"] for o in ops if o["cls"] == "lookup"]
        self.assertGreater(len(set(lookups)), len(lookups) // 2)
        writes = sum(o["kind"] == "write" for o in ops[:len(cycle)])
        self.assertEqual(writes, len(gen.WRITES))

    def test_planted_truth_is_disjoint(self):
        self.gen("curate_batch", 5, "a")
        with open(os.path.join(self.dir, "a", "truth.json")) as f:
            t = json.load(f)
        planted = [a for a, _ in t["exact"]] + [a for a, _, _ in t["near"]] + \
            [a for a, _ in t["semantic"]] + t["contaminated"]
        self.assertEqual(len(planted), len(set(planted)))
        self.assertFalse(set(planted) & set(t["low_quality"]))


if __name__ == "__main__":
    unittest.main()
