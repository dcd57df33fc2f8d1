"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Builds the program once (as run.py does) and takes a few minutes: the
held-out seed runs every workload for a short window.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
# Never used while the benchmark was tuned.
HELD_OUT_SEED = 982451653


def run_bench(workload: str, seed: int, seconds: float, trace: int, cwd: Path = ROOT):
    p = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=cwd, capture_output=True, text=True, timeout=400)
    return p


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()
        cls.spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_generator_and_percentile_rule(self):
        # Same seed gives the same records, another seed other records; each
        # branch gets its share of the mix; p90 leaves >= 10 samples beyond
        # it from 100 samples on.
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(self.classes),
                            "perfbench.Main",
                            "--selftest"], capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("SELFTEST OK", p.stdout)

    def _last_line(self, p):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_held_out_seed_runs_clean_with_declared_metrics(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        for w in [x["name"] for x in self.spec["workloads"]]:
            with self.subTest(workload=w):
                res = self._last_line(run_bench(w, HELD_OUT_SEED, 3, 0))
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, e2e)
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_run_reports_every_per_layer_metric(self):
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        res = self._last_line(run_bench("dlt_small", HELD_OUT_SEED, 4, 1))
        self.assertTrue(res["correct"])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, layer)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertAlmostEqual(m["fanout.scan_passes"], 4.0, delta=1.0)
        # Each sink query runs at least one job, and the streaming shell
        # runs none outside the sinks.
        self.assertGreaterEqual(m["query.jobs"], 1.0)
        self.assertAlmostEqual(m["fanout.jobs_per_batch"], 4 * m["query.jobs"], delta=0.01)
        self.assertGreaterEqual(m["spark.jobs"], m["fanout.jobs_per_batch"])
        # Generating the strings costs task time.
        self.assertGreater(m["stage.map_ms"], 0.0)

    def test_fails_without_the_program(self):
        bare = build.BUILD / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run_bench("dlt_small", 1, 1, 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
