#!/usr/bin/env python3
"""The traced run's counted metrics repeat exactly for a fixed seed.

Runs `run.py --trace 1` twice per workload with the same seed and
requires every count read from the plans and the listener (jobs,
tasks, scan tasks, files written, repartition exchanges, graft kernel
and top-k nodes, jobs per call) to be identical, and both runs to pass
the correctness gate. Run from the root of a checkout:

    python3 perfbench/test_counts.py [--seed N] [--workload W ...]
"""
import argparse
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTED = ("jobs", "tasks", "scan_tasks", "files_written",
           "repartition_exchanges", "kernel_nodes", "topk_nodes", "jobs_per_call")


def traced_run(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def counts(result):
    return {k: v["value"] for k, v in result["metrics"].items()
            if k.split(".")[-1] in COUNTED}


class CountsRepeat(unittest.TestCase):
    workloads = ("etl", "curation")
    seed = 7

    def test_counts_repeat_for_a_fixed_seed(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                first, second = traced_run(w, self.seed), traced_run(w, self.seed)
                self.assertTrue(first["correct"] and second["correct"])
                a, b = counts(first), counts(second)
                self.assertGreater(a[f"{'Enrich' if w == 'etl' else 'Dedup'}.jobs"], 0)
                self.assertEqual(a, b)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=CountsRepeat.seed)
    ap.add_argument("--workload", action="append", choices=CountsRepeat.workloads)
    a = ap.parse_args()
    CountsRepeat.seed = a.seed
    CountsRepeat.workloads = tuple(a.workload or CountsRepeat.workloads)
    unittest.main(argv=sys.argv[:1])
