#!/usr/bin/env python3
"""Checks that the exact counters repeat: two traced runs of a workload with
the same seed must report identical files and bytes scanned, Spark jobs and
tasks per operation, files and bytes written, commits, metadata JSON size and
table health.

Usage (from the repository root; about two minutes per workload):

  python3 lakebench/test_counts.py [workload ...]
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))

EXACT = {
    "lake_ingest": [
        "catalog.commits", "catalog.meta_json_bytes",
        "table.point_files_scanned", "table.point_bytes_scanned",
        "table.range_files_scanned", "table.range_bytes_scanned",
        "table.timetravel_files_scanned", "table.timetravel_bytes_scanned",
        "table.append_files_added", "table.append_bytes_added",
        "table.dml_files_rewritten", "table.dml_bytes_rewritten", "table.maint_bytes_rewritten",
        "table.health.snapshots", "table.health.manifests", "table.health.data_files",
        "table.health.avg_file_bytes",
        "spark.jobs_per_read", "spark.tasks_per_read", "spark.jobs_per_append",
        "spark.tasks_per_append", "spark.jobs_per_dml", "spark.tasks_per_dml",
    ],
    "crawl_dedup": ["spark.jobs_per_gate", "spark.tasks_per_gate", "streaming.batches"],
}
SEED = 11


def traced_run(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class ExactCounters(unittest.TestCase):
    workloads = sorted(EXACT)

    def test_same_seed_same_counts(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                a, b = traced_run(w), traced_run(w)
                self.assertTrue(a["correct"] and b["correct"])
                for name in EXACT[w]:
                    self.assertGreater(a["metrics"][name]["value"], 0, name)
                    self.assertEqual(a["metrics"][name], b["metrics"][name], name)


if __name__ == "__main__":
    if len(sys.argv) > 1:
        ExactCounters.workloads = sys.argv[1:]
    unittest.main(argv=sys.argv[:1])
