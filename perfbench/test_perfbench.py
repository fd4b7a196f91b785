"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They build the program on first use and run the harness's self-test
(about a minute): same-seed inputs are byte-identical, self time on a
synthetic span tree is right, and every metric name the harness can emit
is well-formed and listed in BENCHMARK.json with the same unit.
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--selftest"], cwd=ROOT,
                           capture_output=True, text=True, timeout=900)
        cls.code, cls.out, cls.err = p.returncode, p.stdout, p.stderr

    def test_selftest_passes(self):
        self.assertEqual(self.code, 0, self.err[-3000:])
        self.assertIn("selftest ok", self.out)

    def test_emitted_names_match_benchmark_json(self):
        bench = load_benchmark()
        emitted = {"end_to_end": {}, "per_layer": {}}
        for line in self.out.splitlines():
            parts = line.split()
            if len(parts) == 4 and parts[0] == "name":
                emitted[parts[1]][parts[2]] = parts[3]
        for kind in ("end_to_end", "per_layer"):
            listed = {m["name"]: m["unit"] for m in bench[kind]}
            self.assertEqual(emitted[kind], listed, kind)
            for name in emitted[kind]:
                self.assertRegex(name, NAME_RE)


class BenchmarkJson(unittest.TestCase):
    def test_shape(self):
        b = load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
            params = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(params))
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME_RE)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT_RE)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
