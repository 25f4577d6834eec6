"""The benchmark's own tests, at tiny scale.

    python3 -m unittest discover -s perfbench -p 'test_*.py'   # from the repo root

Each workload runs once untraced and once traced on small inputs: the
result line must carry exactly the metric names and units BENCHMARK.json
declares, every correctness check must pass, and the traced run must
write spans whose parents exist. A checkout holding only BENCHMARK.json
and perfbench/ must fail without printing a result. About four minutes on
four cores, almost all of it JVM start-up.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ann_serve", "ann_bulk", "ingest_mixed", "curation")


def run(workload, trace, root=ROOT, seed=7):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def check_run(self, workload, trace):
        res = run(workload, trace)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        lines = res.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        want = self.declared("per_layer" if trace else "end_to_end")
        self.assertEqual(got, want)
        for name, m in out["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        detail = json.loads(lines[-2])["detail"]
        self.assertEqual(detail["failed_ratio"], 0.0)
        return out, detail

    def test_untraced_runs_report_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                out, _ = self.check_run(w, 0)
                for name, m in out["metrics"].items():
                    self.assertGreater(m["value"], 0, f"{w}: {name} must never be 0")

    def test_traced_runs_report_layers_and_spans(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                out, detail = self.check_run(w, 1)
                spans_file = os.path.join(ROOT, ".bench_build", "spans", f"spans-{w}-7.jsonl")
                with open(spans_file) as fh:
                    spans = [json.loads(l) for l in fh]
                self.assertGreater(len(spans), 0)
                ids = {s["id"] for s in spans}
                for s in spans:
                    self.assertTrue(s["parent"] == 0 or s["parent"] in ids, s)
                    self.assertLessEqual(s["start_us"], s["end_us"], s)
                self.assertLessEqual({"request", "execute"}, {s["name"] for s in spans})
                self.assertGreater(detail["traced_requests"], 0)
                m = out["metrics"]
                if w == "ann_bulk":
                    self.assertGreater(m["functions.kernel_share"]["value"], 0)
                    self.assertGreater(m["index.pairs_scored"]["value"], 0)
                if w == "ann_serve":
                    for name in ("api.construct_ms", "plans.plan_ms", "spark.exec_ms"):
                        self.assertGreater(m[name]["value"], 0, name)
                if w == "curation":
                    self.assertGreater(m["pipeline.candidate_pairs"]["value"], 0)
                    self.assertGreater(m["pipeline.pair_precision"]["value"], 0)

    def test_fails_without_the_program(self):
        work = os.path.join(ROOT, ".bench_build")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = run("ann_serve", 0, root=d)
            self.assertNotEqual(res.returncode, 0)
            for line in res.stdout.splitlines():
                self.assertNotIn('"metrics"', line)


if __name__ == "__main__":
    unittest.main()
