"""Smoke test of the rpc benchmark at sf0.001.

    python3 -m unittest discover -s perfbench/tests

Runs each workload once traced and the first one untraced, for one second,
and checks that every metric BENCHMARK.json names is printed with its unit,
that every reply was verified, and that the traced run wrote its spans.
Takes about two minutes; the first run also builds.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} rc={out.returncode}\n{out.stderr[-3000:]}")
    return out.stdout.splitlines()


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, lines, metrics):
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        summary = [l for l in lines if l.startswith("PERFBENCH_SUMMARY ")]
        self.assertEqual(len(summary), 1)
        record = json.loads(summary[0].split(" ", 1)[1])
        for key in ("host.steal_s", "host.busy_other_s", "jvm.jit_s"):
            self.assertIn(key, record)
        for key, unit in (("failed_frac", "ratio"), ("rpc_p90_s", "s"), ("peak_rss_mb", "MB")):
            self.assertEqual(record[key]["unit"], unit, key)
            self.assertIsInstance(record[key]["value"], (int, float), key)

    def test_untraced_prints_end_to_end_metrics(self):
        self.check(run(self.spec["workloads"][0]["name"], 0), self.spec["end_to_end"])

    def test_traced_prints_per_layer_metrics_and_spans(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                lines = run(w["name"], 1)
                self.check(lines, self.spec["per_layer"])
                spans_line = [l for l in lines if l.startswith("PERFBENCH_SPANS ")]
                self.assertEqual(len(spans_line), 1)
                with open(os.path.join(ROOT, spans_line[0].split(" ", 1)[1])) as f:
                    spans = json.load(f)
                names = {s["name"] for s in spans}
                self.assertTrue({"rpc", "engine.frame_wait", "queries.construct",
                                 "catalyst.plan", "spark.exec", "result.tail"} <= names)
                for s in spans:
                    self.assertEqual(set(s), {"id", "name", "start", "end", "parent", "sn"})


if __name__ == "__main__":
    unittest.main()
