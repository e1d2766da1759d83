"""Self-checks of the benchmark itself (each starts Spark; about 5 minutes).

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check   # noqa: E402
import inputs  # noqa: E402
import run     # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=run.ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


class CorruptedArtifact(unittest.TestCase):
    def test_dropped_row_is_a_failed_stage(self):
        seed = 0
        classpath = run.build()
        sf_dir = os.path.join(run.WORK, "inputs", f"sf01-{seed}")
        inputs.generate("sf01", seed, sf_dir)
        expected = run.read_json(os.path.join(BENCH, "expected.json"))[
            inputs.expected_key("sf01", seed)]["stages"]
        out = os.path.join(run.WORK, "selfcheck")
        shutil.rmtree(out, ignore_errors=True)
        try:
            run.timed(classpath, sf_dir, out, run.CURATION, "chain")
            artifacts = os.path.join(out, "run")
            self.assertEqual(check.failed_stages(artifacts, run.CURATION, expected), [])

            victim = os.path.join(artifacts, "cur_verdict")
            table = pq.read_table(victim)
            for f in os.listdir(victim):
                if f.endswith(".parquet"):
                    os.remove(os.path.join(victim, f))
            pq.write_table(table.slice(1), os.path.join(victim, "part-0.parquet"))
            self.assertEqual(check.failed_stages(artifacts, run.CURATION, expected),
                             ["cur_verdict"])
        finally:
            shutil.rmtree(out, ignore_errors=True)


class TracedCountsRepeat(unittest.TestCase):
    def test_two_traced_runs_report_identical_job_and_task_counts(self):
        args = ["--workload", "curation_sf01", "--seed", "3", "--seconds", "1",
                "--trace", "1"]
        first, second = bench(*args), bench(*args)
        for r in (first, second):
            self.assertTrue(r["correct"])
        counts = [k for k in first["metrics"]
                  if k.startswith(("spark.jobs", "spark.tasks", "operators.eager_jobs"))
                  and k != "spark.tasks_per_stage"]
        self.assertIn("spark.jobs", counts)
        self.assertIn("spark.tasks", counts)
        for k in counts:
            self.assertEqual(first["metrics"][k]["value"], second["metrics"][k]["value"], k)


if __name__ == "__main__":
    unittest.main()
