"""End-to-end tests of run.py (start the harness JVM; about three minutes).

    python3 -m unittest discover -s perfbench/tests -p 'test_run.py'

Run from the root of a graft checkout.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + args,
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


class InjectedFailureTest(unittest.TestCase):
    def test_failing_op_is_reported_and_fails_the_run(self):
        p = run(["--workload", "olap_fixture", "--seed", "1", "--seconds", "1",
                 "--trace", "0", "--inject-fail", "3"])
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        self.assertGreater(last["attempted"], last["failed"])
        # the only pass has a failed op, so there is no pass figure at all
        self.assertRegex(p.stdout, r"pass_s +n/a")
        self.assertIn("injected failure", p.stdout)


class SoloCapacityTest(unittest.TestCase):
    def test_solo_run_reports_the_ops_capacity(self):
        p = run(["--workload", "stream_reconfig", "--seed", "1", "--seconds", "3",
                 "--trace", "1", "--solo", "fries"])
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        self.assertGreater(last["metrics"]["streaming.fries.rows_s"]["value"], 0)
        self.assertEqual(last["metrics"]["streaming.tumble_agg.rows_s"]["value"], 0)


class BareDirectoryTest(unittest.TestCase):
    def test_without_graft_sources_it_exits_nonzero_without_a_result(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            p = run(["--workload", "olap_fixture", "--seed", "1", "--seconds", "1",
                     "--trace", "0"], cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
