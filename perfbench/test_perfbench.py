"""Self-tests of the benchmark, on tiny inputs (a few minutes on 4 cores):

  python3 perfbench/test_perfbench.py

They show that one seed gives byte-identical inputs, that a set whose
output hashes differently from an earlier set of the same inputs and build
fails, that the metric names a run prints are exactly those BENCHMARK.json
declares, that every workload completes with no failed run, and that the
benchmark fails without printing a result when the program's sources are
missing.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")
SCALE = "0.25"


def run_bench(workload, trace, cwd=ROOT):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace),
                        "--scale", SCALE], cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return r


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as t:
            for w in gen.SIZES:
                a, b, c = (os.path.join(t, x, w) for x in "abc")
                gen.generate(w, 3, a, 0.01)
                gen.generate(w, 3, b, 0.01)
                gen.generate(w, 4, c, 0.01)
                self.assertTrue(tree_equal(a, b), f"{w}: seed 3 twice differs")
                self.assertFalse(tree_equal(a, c), f"{w}: seeds 3 and 4 agree")


class HashStoreTest(unittest.TestCase):
    def test_a_later_set_must_hash_as_the_first(self):
        import run
        key = "selftest-hash-store"
        path = os.path.join(run.OUT, "hashes", key)
        try:
            self.assertEqual(run.same_hash(key, ["aa"]), [])
            self.assertEqual(run.same_hash(key, ["aa"]), [])
            self.assertEqual(len(run.same_hash(key, ["bb"])), 1)
            self.assertEqual(len(run.same_hash(key, ["aa", "bb"])), 1)
        finally:
            if os.path.exists(path):
                os.remove(path)


class RunTest(unittest.TestCase):
    def check_run(self, workload, trace):
        r = run_bench(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stdout[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0, "fail_ratio is not 0")
        declared = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        printed = {line.split()[2] for line in r.stdout.splitlines()
                   if line.startswith("metric ")}
        self.assertEqual(printed, {m["name"] for m in declared} | {"fail_ratio"})
        return res

    def test_flow_train_end_to_end_metrics(self):
        self.check_run("flow_train", 0)

    def test_flow_train_per_layer_metrics(self):
        res = self.check_run("flow_train", 1)
        self.assertGreater(res["metrics"]["topicmodel.jobs"]["value"], 0)

    def test_dns_train(self):
        self.check_run("dns_train", 0)

    def test_flow_score_per_layer_metrics(self):
        res = self.check_run("flow_score", 1)
        self.assertEqual(res["metrics"]["topicmodel.wall_s"]["value"], 0)

    def test_fails_without_the_program(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(HERE, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_bench("flow_train", 0, cwd=t)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
