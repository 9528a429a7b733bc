"""End-to-end self-tests of the benchmark at sf0.001: every workload runs
clean, the traced run emits every per-layer metric, and a tampered golden
or a replay that changes the table is reported as a failure. Each case
starts a Spark JVM, so the module takes a few minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_runs.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--sf", "0.001",
                        "--seconds", "1", "--seed", "5", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check_clean(self, workload, trace):
        detail, res = bench("--workload", workload, "--trace", str(trace))
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], detail["failures"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        for v in res["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))
        return detail, res

    def test_relational(self):
        self.check_clean("relational", 0)

    def test_curation(self):
        self.check_clean("curation", 0)

    def test_pipeline(self):
        detail, _ = self.check_clean("pipeline", 0)
        self.assertEqual([p["rows"] for p in detail["pages"]], [2000, 400])

    def test_pipeline_traced(self):
        _, res = self.check_clean("pipeline", 1)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(m["domain.upsert_s"], 0)
        self.assertGreater(m["domain.write_amp"], 0)
        self.assertGreater(m["sources.extract_rows"], 0)
        self.assertGreater(m["expressions.md5_ns_per_row"], 0)


class Failures(unittest.TestCase):
    def test_tampered_golden_is_a_failure(self):
        with open(os.path.join(HERE, "goldens", "sf0.001.json")) as f:
            g = json.load(f)
        g["queries"]["q21_topk"]["digest"] = "0" * 64
        path = os.path.join(HERE, ".work", "tampered.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(g, f)
        detail, res = bench("--workload", "relational", "--trace", "0", "--goldens", path)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertEqual({f["name"] for f in detail["failures"]}, {"q21_topk"})

    def test_non_idempotent_replay_is_a_failure(self):
        detail, res = bench("--workload", "pipeline", "--trace", "0", "--fault", "replay")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertTrue(any(f["name"].startswith("replay") for f in detail["failures"]))


if __name__ == "__main__":
    unittest.main()
