"""Unit tests for the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp(prefix="perfbench-gen-")
        self.addCleanup(shutil.rmtree, d)
        gen.generate(workload, seed, d)
        return d, gen.digest_dir(d)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                _, a = self.generate(w, 7)
                _, b = self.generate(w, 7)
                self.assertEqual(a, b)

    def test_other_seed_gives_other_inputs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                _, a = self.generate(w, 7)
                _, b = self.generate(w, 8)
                self.assertNotEqual(a, b)

    def test_f1_cycles_keep_a_fixed_mix(self):
        d, _ = self.generate("f1_dashboard", 3)
        with open(os.path.join(d, "ops.jsonl")) as f:
            ops = [json.loads(l) for l in f]
        with open(os.path.join(d, "sessions.jsonl")) as f:
            kind = {s["session_key"]: s["session_name"] for s in map(json.loads, f)}
        cycles = [ops[i:i + gen.F1_CYCLE]
                  for i in range(0, len(ops) - gen.F1_CYCLE + 1, gen.F1_CYCLE)]
        first = [o["kind"] for o in cycles[0]]
        for c in cycles:
            self.assertEqual([o["kind"] for o in c], first)
            self.assertEqual([kind[o["session_key"]] for o in c],
                             ["Qualifying"] * 5 + ["Race"] * 5)

    def test_store_batches_hold_the_gate_families(self):
        d, _ = self.generate("store_ingest", 5)
        with open(os.path.join(d, "base.jsonl")) as f:
            base = [json.loads(l) for l in f]
        texts = {b["text"] for b in base}
        urls = {b["url"] for b in base}
        want = gen.family_counts(gen.STORE_SIZES["batch_docs"])
        self.assertEqual(sum(want.values()), gen.STORE_SIZES["batch_docs"])
        for name in sorted(os.listdir(os.path.join(d, "batches"))):
            with open(os.path.join(d, "batches", name)) as f:
                batch = [json.loads(l) for l in f]
            self.assertEqual(sum(b["text"] in texts for b in batch), want["exact"])
            self.assertEqual(sum(b["url"] in urls for b in batch), want["recrawl"])
            self.assertTrue(all(b["doc_id"] not in {x["doc_id"] for x in base}
                                for b in batch))

    def test_family_counts_follow_the_gate_weights(self):
        self.assertEqual(gen.family_counts(60), {
            "recrawl": 13, "near": 17, "exact": 12, "excerpt": 8,
            "reversed": 10})


class DigestTest(unittest.TestCase):
    def ops(self):
        return [{"key": "a", "digest": "d1", "ok": True, "error": ""},
                {"key": "b", "digest": "d2", "ok": True, "error": ""},
                {"key": "c", "digest": "d3", "ok": True, "error": ""}]

    def test_matching_digests_pass(self):
        ops = self.ops()
        checked, bad = metrics.check_digests(ops, {"a": "d1", "b": "d2"})
        self.assertEqual((checked, bad), (2, []))
        self.assertTrue(all(o["ok"] for o in ops))

    def test_perturbed_output_fails(self):
        ops = self.ops()
        ops[1]["digest"] = "d2-perturbed"
        checked, bad = metrics.check_digests(ops, {"a": "d1", "b": "d2"})
        self.assertEqual((checked, bad), (2, ["b"]))
        self.assertFalse(ops[1]["ok"])
        self.assertEqual(ops[1]["error"], "digest mismatch")


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_child_coverage(self):
        #  op      [0 ........................ 100]
        #  f1.a       [10 ........ 50]
        #  f1.b                         [60 .. 90]
        #  job (a)       [20 .. 40]
        #  job (a)          [30 ..... 55]   (clipped to a at 50)
        #  job (op)                  [52 .. 58]
        spans = [
            {"id": 0, "name": "op", "start_ms": 0, "end_ms": 100, "parent": -1, "op": 1},
            {"id": 1, "name": "f1.a", "start_ms": 10, "end_ms": 50, "parent": 0, "op": 1},
            {"id": 2, "name": "f1.b", "start_ms": 60, "end_ms": 90, "parent": 0, "op": 1},
        ]
        jobs = [{"op": 1, "start_ms": 20, "end_ms": 40},
                {"op": 1, "start_ms": 30, "end_ms": 55},
                {"op": 1, "start_ms": 52, "end_ms": 58}]
        selfs = metrics.self_times(spans, jobs)
        self.assertAlmostEqual(selfs[1], 40 - 30)        # covered 20..50
        self.assertAlmostEqual(selfs[2], 30)             # no children
        self.assertAlmostEqual(selfs[0], 100 - 40 - 30 - 6)

    def test_jobs_of_other_operations_are_not_children(self):
        spans = [{"id": 0, "name": "op", "start_ms": 0, "end_ms": 10,
                  "parent": -1, "op": 1}]
        selfs = metrics.self_times(spans, [{"op": 2, "start_ms": 1, "end_ms": 9}])
        self.assertAlmostEqual(selfs[0], 10)


if __name__ == "__main__":
    unittest.main()
