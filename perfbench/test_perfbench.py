"""Tests of the benchmark's generators, result records and compare verdicts.

    python3 perfbench/test_perfbench.py            # all (runs each workload twice)
    python3 perfbench/test_perfbench.py Generators # the fast ones
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import compare  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    WORKLOADS = [w["name"] for w in json.load(f)["workloads"]]


def inputs_digest(workload, seed):
    out = subprocess.run(["java", "-cp", build.ensure_built(), "perfbench.Main",
                          "--workload", workload, "--seed", str(seed), "--inputs-digest", "1"],
                         check=True, capture_output=True, text=True).stdout
    return out.strip().splitlines()[-1]


def bench_run(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       capture_output=True, text=True)
    assert p.returncode == 0, p.stderr
    lines = p.stdout.strip().splitlines()
    path = next(l.split("record=")[1] for l in lines if "record=" in l)
    with open(path) as f:
        return json.loads(lines[-1]), json.load(f)


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = inputs_digest(w, 7), inputs_digest(w, 7), inputs_digest(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class Compare(unittest.TestCase):
    metric = {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1}

    def test_clear_gain_is_improved(self):
        parent = [10.0 + 0.1 * i for i in range(10)]
        change = [8.0 + 0.1 * i for i in range(10)]
        *_, share, v = compare.verdict(self.metric, parent, change, list(zip(parent, change)))
        self.assertEqual((share, v), (1.0, "improved"))

    def test_regression_beyond_bound_is_worse(self):
        parent = [10.0] * 10
        change = [11.5] * 10
        self.assertEqual(compare.verdict(self.metric, parent, change,
                                         list(zip(parent, change)))[-1], "worse")

    def test_noisy_parent_is_unresolved(self):
        parent = [8.0, 12.0, 9.0, 11.0, 10.0, 8.5, 11.5, 9.5, 10.5, 10.0]
        change = [10.2] * 10
        self.assertEqual(compare.verdict(self.metric, parent, change,
                                         list(zip(parent, change)))[-1], "unresolved")

    def test_small_change_is_within_bound(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        change = [x * 1.02 for x in parent]
        self.assertEqual(compare.verdict(self.metric, parent, change,
                                         list(zip(parent, change)))[-1], "within bound")


class Results(unittest.TestCase):
    def test_same_seed_same_outputs_and_every_result_records_seed_and_sizes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                (line1, rec1), (line2, rec2) = bench_run(w, 5), bench_run(w, 5)
                for line, rec in ((line1, rec1), (line2, rec2)):
                    self.assertTrue(line["correct"], rec["failed_checks"])
                    self.assertEqual(line["failed"], 0)
                    self.assertEqual(rec["seed"], 5)
                    self.assertTrue(rec["sizes"])
                self.assertEqual(rec1["output_digests"][0], rec2["output_digests"][0])


if __name__ == "__main__":
    unittest.main()
