"""Self-test of the benchmark: failures are loud and every metric is printed.

    python3 perfbench/test_run.py

Each case runs perfbench/run.py on tiny (sf 0.001) inputs, so the time is
the JVM's fixed cost: about 5 minutes on 4 cores.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace=0, *extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny",
                        *extra], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-1]) if lines else None, r.stderr


class FailuresAreLoud(unittest.TestCase):

    def test_throwing_item_is_counted_and_fails_the_run(self):
        rc, out, err = bench("sensor_ts", 0, "--fail-item", "q05_dim_join_revenue")
        self.assertEqual(rc, 1, err[-2000:])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertIn("injected failure", err)

    def test_wrong_reference_is_counted_and_fails_the_run(self):
        rc, out, err = bench("sensor_ts", 0, "--corrupt-ref", "q02_hourly_agg")
        self.assertEqual(rc, 1, err[-2000:])
        self.assertEqual(out["failed"], 1)
        self.assertIn("mismatch", err)


class EveryMetricIsPrinted(unittest.TestCase):

    def check(self, trace, key):
        names = {m["name"] for m in SPEC[key]}
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                rc, out, err = bench(w, trace)
                self.assertEqual(rc, 0, err[-2000:])
                self.assertTrue(out["correct"])
                self.assertEqual(set(out["metrics"]), names)
                units = {m["name"]: m["unit"] for m in SPEC[key]}
                for name, v in out["metrics"].items():
                    self.assertEqual(v["unit"], units[name], name)
                    self.assertIsInstance(v["value"], (int, float), name)

    def test_end_to_end(self):
        self.check(0, "end_to_end")

    def test_per_layer(self):
        self.check(1, "per_layer")


if __name__ == "__main__":
    unittest.main(verbosity=2)
