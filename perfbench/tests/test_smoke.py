"""Tiny-input smoke runs of every workload through the real command.

Builds the harness on first use (sbt, offline), so the first test can take
a few minutes. Run from anywhere:
    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# the smallest fixture set, next to the benchmark's default one
FIXTURES = os.environ.get("PERFBENCH_TEST_FIXTURES", os.path.join(
    os.path.dirname(run.DEFAULT_FIXTURES), "sf0.001"))
WORKLOADS = ["cop_queries", "corpus_queries", "corpus_jobs", "stream_ingest"]


def bench(*args, cwd=ROOT):
    env = dict(os.environ, PERFBENCH_FIXTURES=FIXTURES)
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@unittest.skipUnless(os.path.isdir(FIXTURES), f"no fixtures at {FIXTURES}")
class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        want = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))
        if not trace:
            self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))
        return out

    def test_every_workload_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(w, 0)

    def test_traced_run(self):
        out = self.check("cop_queries", 1)
        self.assertGreater(out["metrics"]["trace.span_n"]["value"], 0)
        self.assertGreater(out["metrics"]["exec.task_n"]["value"], 0)

    def test_fails_without_engine_sources(self):
        # a directory holding only BENCHMARK.json and the benchmark itself
        tmp = os.path.join(ROOT, ".bench_build", "tmp")
        os.makedirs(tmp, exist_ok=True)
        d = tempfile.mkdtemp(dir=tmp)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "cop_queries",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
