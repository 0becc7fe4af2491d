"""The benchmark's own tests: every workload end to end at a small size.

    python3 -m unittest perfbench/test_bench.py      (from the repo root)

Each test runs the real command (one JVM per run, about a minute each) and
checks the result line against BENCHMARK.json.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace=0, *extra, env=None):
    """Runs the command; returns (exit code, parsed last stdout line or None)."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), *extra],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return r.returncode, result


class BenchmarkTest(unittest.TestCase):

    def assert_complete(self, result, kind):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual(set(result["metrics"]), set(declared))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], declared[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_every_workload_emits_every_metric_with_its_unit(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            extra = ["--forums", "2"] if w.startswith("crawl") else []
            for trace, kind in [(0, "end_to_end"), (1, "per_layer")]:
                with self.subTest(workload=w, trace=trace):
                    code, result = bench(w, trace, *extra)
                    self.assertEqual(code, 0)
                    self.assert_complete(result, kind)
                    if trace == 0:
                        for m in result["metrics"].values():
                            self.assertGreater(m["value"], 0)

    def test_corrupted_crawl_pin_is_a_failure_not_a_number(self):
        code, result = bench("crawl_deep", 0, "--forums", "2", "--corrupt-pin")
        self.assertEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        timings = [m for n, m in result["metrics"].items() if n != "setup_s"]
        self.assertTrue(all(m["value"] is None for m in timings), result)

    def test_corrupted_query_pin_is_a_failure_not_a_number(self):
        code, result = bench("queries", 0, "--corrupt-pin")
        self.assertEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        # the pass has a failed query, so it yields no per-item time
        self.assertIsNone(result["metrics"]["item_ms"]["value"])

    def test_engine_knobs_are_refused(self):
        env = dict(os.environ, GRAFT_HEADWRITE="serial")
        code, result = bench("crawl_deep", 0, "--forums", "2", env=env)
        self.assertNotEqual(code, 0)
        self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
