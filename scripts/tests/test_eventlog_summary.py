"""Tests of scripts/eventlog_summary.py on a trimmed store_ingest event log.

    python3 -m unittest discover -s scripts/tests

The fixture keeps, from a real `perfbench/run.py --workload store_ingest
--seed 1` event log (Spark 4.1, local[4]), the job and SQL-execution events
of executions 0-3 (store build), 25-28 (the first streaming micro-batch)
and the jobs outside any execution, with plans cut to node names.
"""

import io
import os
import sys
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog_summary as es  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_store_ingest.jsonl")


class EventlogSummaryTest(unittest.TestCase):
    def rows(self, first=None, last=None):
        return es.summarize(es.read_events(FIXTURE), first, last)

    def test_one_row_per_execution_then_jobs_outside_one(self):
        self.assertEqual(self.rows(), [
            (0, "parquet at Workloads.scala:213", 1, 0, 0, 2883),
            (1, "parquet at Workloads.scala:216", 1, 0, 0, 251),
            (2, "parquet at ReleaseStore.scala:103", 2, 1, 0, 2122),
            (3, "parquet at ReleaseStore.scala:101", 2, 1, 0, 3966),
            (25, "stream batch 0", 0, 0, 0, 7362),
            (26, "stream batch 0", 1, 0, 0, 130),
            (27, "stream batch 0", 3, 0, 2, 471),
            (28, "stream batch 0", 3, 0, 2, 345),
            (None, "parquet at Workloads.scala:214", 1, 0, 0, None),
            (None, "parquet at Workloads.scala:217", 1, 0, 0, None),
        ])

    def test_job_window_counts_only_its_jobs(self):
        # jobs 5 and 6 open executions 2 and 3; their second jobs (11, 19)
        # fall outside the window
        self.assertEqual(self.rows(5, 6), [
            (2, "parquet at ReleaseStore.scala:103", 1, 1, 0, 2122),
            (3, "parquet at ReleaseStore.scala:101", 1, 1, 0, 3966),
        ])
        self.assertEqual([r[0] for r in self.rows(first=66)], [26, 27, 28])

    def test_exchanges_count_shuffles_and_broadcasts(self):
        plan = {"nodeName": "SortMergeJoin", "children": [
            {"nodeName": "ShuffleQueryStage", "children": [
                {"nodeName": "Exchange", "children": []}]},
            {"nodeName": "BroadcastQueryStage", "children": [
                {"nodeName": "BroadcastExchange", "children": []}]},
            {"nodeName": "ReusedExchange", "children": []}]}
        self.assertEqual(es.exchanges(plan), (1, 1))

    def test_cli_prints_a_total_row(self):
        out = io.StringIO()
        argv = sys.argv
        sys.argv = ["eventlog_summary.py", FIXTURE, "--to", "19"]
        try:
            with redirect_stdout(out):
                es.main()
        finally:
            sys.argv = argv
        last = out.getvalue().splitlines()[-1].split()
        self.assertEqual(last[:3], ["total", "(6", "rows)"])
        self.assertEqual(last[3:6], ["8", "2", "0"])


if __name__ == "__main__":
    unittest.main()
