"""End-to-end checks of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_bench.py

The last two tests run the benchmark (about a minute each).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=1200)


class TablesTest(unittest.TestCase):
    def test_tables_are_a_pure_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a = digest(gen_tables.generate(3, os.path.join(t, "a")))
            b = digest(gen_tables.generate(3, os.path.join(t, "b")))
            c = digest(gen_tables.generate(4, os.path.join(t, "c")))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class RunTest(unittest.TestCase):
    def test_a_wrong_expectation_fails_the_run(self):
        for workload in ("engine-backfill", "entries-mix"):
            r = bench("--workload", workload, "--seed", "1", "--seconds", "2", "--trace", "0",
                      "--expect-wrong", "1")
            self.assertEqual(r.returncode, 1, r.stderr[-2000:])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertFalse(res["correct"])
            self.assertGreater(res["failed"], 0)

    def test_without_the_program_it_fails_fast_and_prints_no_result(self):
        with tempfile.TemporaryDirectory() as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(BENCH, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = bench("--workload", "entries-mix", "--seed", "1", "--seconds", "2", "--trace", "0", cwd=t)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
