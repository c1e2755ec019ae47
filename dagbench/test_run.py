"""Bad input to the benchmark command fails loudly, before any build;
any integer seed is accepted.

    python3 -m unittest dagbench/test_run.py
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
sys.path.insert(0, HERE)
import run as run_py  # noqa: E402


def run(*args):
    return subprocess.run([sys.executable, RUN, *args], capture_output=True,
                          text=True, timeout=60)


class BadInput(unittest.TestCase):
    def assertRejected(self, args, message):
        r = run(*args)
        self.assertEqual(r.returncode, 2, r.stderr)
        self.assertEqual(r.stdout, "")
        self.assertIn(message, r.stderr)

    def test_unknown_workload(self):
        self.assertRejected(["--workload", "nightly", "--seed", "1", "--seconds", "5",
                             "--trace", "0"], "unknown or missing --workload")

    def test_missing_seed(self):
        self.assertRejected(["--workload", "curation", "--seconds", "5", "--trace", "0"],
                            "--seed must be an integer")

    def test_non_integer_seed(self):
        self.assertRejected(["--workload", "curation", "--seed", "1.5", "--seconds", "5",
                             "--trace", "0"], "--seed must be an integer")

    def test_bad_seconds(self):
        self.assertRejected(["--workload", "curation", "--seed", "1", "--seconds", "0",
                             "--trace", "0"], "--seconds must be a positive integer")

    def test_bad_trace(self):
        self.assertRejected(["--workload", "curation", "--seed", "1", "--seconds", "5",
                             "--trace", "2"], "--trace must be 0 or 1")


class Seed(unittest.TestCase):
    def test_any_integer_seed_is_a_64_bit_seed(self):
        self.assertEqual(run_py.seed64("7"), 7)
        self.assertEqual(run_py.seed64("-7"), -7)
        self.assertEqual(run_py.seed64(str(2**64 + 7)), 7)
        self.assertEqual(run_py.seed64(str(2**63)), -2**63)


if __name__ == "__main__":
    unittest.main()
