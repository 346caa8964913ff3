#!/usr/bin/env python3
"""Self-tests of the benchmark, on the smoke sizes of every workload.

Run from the repository root: python3 perfbench/test_perfbench.py
Each workload runs once as is (must pass its correctness gate and report
every end-to-end metric) and once with `--corrupt`, which damages the
output before the gate (must fail loudly: exit 1 and `correct: false`).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)


def bench(workload, *extra, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke", *extra],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            prints = []
            for i, seed in enumerate((5, 5, 6)):
                out = os.path.join(d, str(i))
                os.makedirs(out)
                run.WORKLOADS["cdc_mixed"]["gen"](out, seed, True)
                prints.append(gen.fingerprint(out))
            self.assertEqual(prints[0], prints[1])
            self.assertNotEqual(prints[0], prints[2])


class Workloads(unittest.TestCase):
    pass


def _cases(workload):
    def test_passes(self):
        rc, res, err = bench(workload)
        self.assertEqual(rc, 0, err[-2000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        names = {m["name"] for m in BENCH["end_to_end"]}
        self.assertEqual(set(res["metrics"]), names)
        for name, m in res["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def test_gate_trips_on_corrupted_output(self):
        rc, res, _ = bench(workload, "--corrupt")
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    return test_passes, test_gate_trips_on_corrupted_output


for _w in run.WORKLOADS:
    _ok, _bad = _cases(_w)
    setattr(Workloads, "test_%s_passes" % _w, _ok)
    setattr(Workloads, "test_%s_gate_trips" % _w, _bad)


class Refusal(unittest.TestCase):
    def test_fails_without_the_program(self):
        """A directory with only BENCHMARK.json and the benchmark has nothing
        to build: the command must fail without printing a result."""
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, res, _ = bench("etl_bulk", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main()
