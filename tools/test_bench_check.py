"""Self-tests for bench_check.py: a failed query fails the gate,
artifacts captured at different core counts are not pooled, and the
commit and canary stamps are printed when an artifact carries them.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_check  # noqa: E402


def artifact(d, name, **doc):
    path = os.path.join(d, name)
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


class BenchCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def gate(self, path):
        return subprocess.run(
            [sys.executable, os.path.join(HERE, "bench_check.py"), path],
            capture_output=True, text=True)

    def test_failed_query_fails_the_gate(self):
        path = artifact(self.tmp.name, "bench.json",
                        queries={"q1_ok": 1.0, "q2_throws": -1.0})
        r = self.gate(path)
        self.assertEqual(r.returncode, 1, r.stdout + r.stderr)
        self.assertIn("FAIL q2_throws: run failed", r.stdout)

    def test_failed_queries_key_fails_a_query_with_a_median(self):
        path = artifact(self.tmp.name, "bench.json",
                        queries={"q1_ok": 1.0, "q2_flaky": 2.0},
                        failed_queries=["q2_flaky"])
        r = self.gate(path)
        self.assertEqual(r.returncode, 1, r.stdout + r.stderr)
        self.assertIn("FAIL q2_flaky: run failed", r.stdout)
        self.assertNotIn("q1_ok: run failed", r.stdout)

    def test_prints_git_head_and_canary_when_present(self):
        path = artifact(self.tmp.name, "bench.json", queries={"q1_new": 1.0},
                        git_head="0123abc",
                        raw_canary_ms={"q1_new": [40.0, 50.0, 60.0]})
        r = self.gate(path)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("git_head 0123abc", r.stdout)
        self.assertIn("canary median 50.0 ms, spread 0.40 over 3 runs", r.stdout)
        legacy = artifact(self.tmp.name, "legacy.json", queries={"q1_new": 1.0})
        r = self.gate(legacy)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("git_head", r.stdout)
        self.assertNotIn("canary", r.stdout)

    def test_rebaseline_refuses_mixed_cpus(self):
        a = artifact(self.tmp.name, "a.json", queries={"q1": 1.0}, cpus=8)
        b = artifact(self.tmp.name, "b.json", queries={"q1": 2.0}, cpus=32)
        out = os.path.join(self.tmp.name, "baselines.json")
        orig, bench_check.BASELINES = bench_check.BASELINES, out
        self.addCleanup(setattr, bench_check, "BASELINES", orig)
        with self.assertRaises(SystemExit) as e:
            bench_check.rebaseline([a, b])
        self.assertIn("different cpus", str(e.exception))
        self.assertFalse(os.path.exists(out))
        # an artifact without the stamp still pools with a stamped one
        legacy = artifact(self.tmp.name, "c.json", queries={"q1": 3.0})
        bench_check.rebaseline([a, legacy])
        with open(out) as f:
            self.assertEqual(json.load(f)["baselines"]["q1"]["n"], 2)


if __name__ == "__main__":
    unittest.main()
