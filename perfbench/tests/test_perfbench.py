"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

`test_injected_failure` runs one short insight_mix workload (a JVM, about
a minute); the others take seconds.
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL = ["--events", "3000", "--users", "100", "--docs", "300", "--vectors", "200"]


def gen(workload, seed, out):
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--out", out] + SMALL,
                   check=True, stdout=subprocess.DEVNULL)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(same_tree(os.path.join(a, d), os.path.join(b, d))
                                               for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as t:
            for w in ("stream_identity", "curation"):
                a, b, c = (os.path.join(t, f"{w}-{x}") for x in "abc")
                gen(w, 7, a)
                gen(w, 7, b)
                gen(w, 8, c)
                self.assertTrue(same_tree(a, b), f"{w}: seed 7 twice differs")
                self.assertFalse(same_tree(a, c), f"{w}: seeds 7 and 8 agree")


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        metrics = b["end_to_end"] + b["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_every_metric_is_produced_somewhere(self):
        """A metric renamed in the code but not in BENCHMARK.json would read 0."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        src = ""
        for base, _, files in os.walk(BENCH):
            for n in files:
                if n.endswith((".scala", ".py")) and "tests" not in base:
                    with open(os.path.join(base, n)) as f:
                        src += f.read()
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertIn(f'"{m["name"]}"', src, m["name"])


class ContractTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(BENCH, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curation",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class InjectedFailureTest(unittest.TestCase):
    def test_injected_failure(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "insight_mix",
                            "--seed", "3", "--seconds", "1", "--trace", "0",
                            "--inject-failure"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertFalse(res["correct"])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["end_to_end"]}
        self.assertEqual(set(res["metrics"]), names)
        for v in res["metrics"].values():
            self.assertGreater(v["value"], 0)


if __name__ == "__main__":
    unittest.main()
