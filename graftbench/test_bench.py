"""The benchmark's own tests: every workload in smoke mode (toy scale,
every op and check once) must print a well-formed, correct result line,
and the benchmark must refuse to run without graft's sources.

    python3 -m unittest graftbench/test_bench.py
"""
import datetime
import decimal
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402


def bench(*args, cwd=REPO, script=os.path.join(HERE, "run.py")):
    return subprocess.run([sys.executable, script] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class CanonTest(unittest.TestCase):
    def test_cells(self):
        self.assertEqual(oracle.cell(5), "5")
        self.assertEqual(oracle.cell(5.0), "5")
        self.assertEqual(oracle.cell(decimal.Decimal("5.00")), "5")
        self.assertEqual(oracle.cell(-0.0), "0")
        self.assertEqual(oracle.cell(0.1 + 0.2), "0.3")
        self.assertEqual(oracle.cell(None), "NULL")
        self.assertEqual(oracle.cell(datetime.datetime(1998, 9, 2)), "1998-09-02 00:00:00")

    def test_hash_ignores_row_and_column_order(self):
        a = oracle.result_hash(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.result_hash(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if trace else "end_to_end"]
        p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        for m in spec:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res["metrics"]

    def test_sql(self):
        self.assertGreater(self.check("sql", 0)["wall_s"]["value"], 0)
        layers = self.check("sql", 1)
        self.assertGreater(layers["driver.jobs"]["value"], 0)
        self.assertGreater(layers["exchange.write_mb"]["value"], 0)

    def test_cdr(self):
        self.assertGreater(self.check("cdr", 0)["cpu_s"]["value"], 0)
        layers = self.check("cdr", 1)
        self.assertGreater(layers["stored_ratio"]["value"], 0)
        self.assertGreater(layers["streaming.batches"]["value"], 0)


class StandaloneTest(unittest.TestCase):
    def test_refuses_without_sources(self):
        bare = os.path.join(HERE, "out", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(os.path.join(bare, "graftbench"))
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for f in os.listdir(HERE):
            if f.endswith(".py"):
                shutil.copy(os.path.join(HERE, f), os.path.join(bare, "graftbench"))
        p = bench("--workload", "sql", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=bare, script=os.path.join(bare, "graftbench", "run.py"))
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
