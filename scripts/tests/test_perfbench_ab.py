"""Tests of scripts/perfbench_ab.py's --benchone mode on canned BenchOne output.

    python3 -m unittest discover -s scripts/tests
"""

import os
import stat
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import perfbench_ab as ab  # noqa: E402

CANNED = """\
26/10/20 17:00:01 WARN NativeCodeLoader: Unable to load native-hadoop library
[benchone] q_ann_drift: min=1.204 med=1.310 max=1.498
some other stdout line
[benchone] q_pq_rot_org: min=0.402 med=0.455 max=0.611
"""


class ParseBenchOneTest(unittest.TestCase):
    def test_reads_each_querys_median_and_skips_other_lines(self):
        self.assertEqual(ab.parse_benchone(CANNED),
                         {"q_ann_drift": 1.310, "q_pq_rot_org": 0.455})

    def test_empty_output_has_no_figures(self):
        self.assertEqual(ab.parse_benchone(""), {})


class SummarizeBenchOneTest(unittest.TestCase):
    def test_medians_quartiles_and_wins_lower_is_better(self):
        parent = [1.0, 1.2, 1.1, 1.3, 1.4]
        change = [0.9, 1.3, 1.0, 1.2, 1.5]
        pairs = [({"q": p}, {"q": c}) for p, c in zip(parent, change)]
        s = ab.summarize(pairs, 5, {})["q"]
        self.assertEqual(s["better"], "lower")
        self.assertAlmostEqual(s["parent"]["median"], 1.2)
        self.assertAlmostEqual(s["parent"]["q1"], 1.1)
        self.assertAlmostEqual(s["parent"]["q3"], 1.3)
        self.assertAlmostEqual(s["change"]["median"], 1.2)
        self.assertEqual((s["wins"], s["pairs"]), (3, 5))


class RunBenchOneTest(unittest.TestCase):
    """run_benchone drives a tree's scripts/run_main.sh; a stub stands in."""

    def tree(self, body):
        root = tempfile.mkdtemp(prefix="perfbench_ab_test-")
        os.makedirs(os.path.join(root, "scripts"))
        path = os.path.join(root, "scripts", "run_main.sh")
        with open(path, "w") as f:
            f.write("#!/bin/bash\n" + body)
        os.chmod(path, os.stat(path).st_mode | stat.S_IEXEC)
        return root

    def test_passes_sf_queries_and_reps_to_benchone(self):
        tree = self.tree('[ "$1 $2 $3 $4" = "graft.BenchOne /sf q_a,q_b 5" ]'
                         ' || exit 3\n'
                         'echo "[benchone] q_a: min=1.0 med=2.0 max=3.0"\n'
                         'echo "[benchone] q_b: min=0.5 med=0.6 max=0.7"\n')
        meds, err = ab.run_benchone(tree, "/sf", ["q_a", "q_b"], 5)
        self.assertIsNone(err)
        self.assertEqual(meds, {"q_a": 2.0, "q_b": 0.6})

    def test_a_missing_query_fails_the_run_with_stderr_tail(self):
        tree = self.tree('echo "[benchone] q_a: min=1.0 med=2.0 max=3.0"\n'
                         'echo "q_b failed: boom" >&2\n')
        meds, err = ab.run_benchone(tree, "/sf", ["q_a", "q_b"], 3)
        self.assertIsNone(meds)
        self.assertIn("missing q_b", err)
        self.assertIn("boom", err)


if __name__ == "__main__":
    unittest.main()
