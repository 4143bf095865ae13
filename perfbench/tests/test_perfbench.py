"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The cases that start the measuring JVM build the program first (once per
checkout) and take a few minutes in all.
"""
import importlib.util
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
_spec = importlib.util.spec_from_file_location("perfbench_run", ROOT / "perfbench" / "run.py")
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args):
    """Run the benchmark command; returns (last JSON line, report line)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", *map(str, args)], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(run.percentile(xs, 0.5), 50)
        self.assertEqual(run.percentile(xs, 0.9), 90)
        self.assertEqual(run.percentile([7.0], 0.9), 7.0)
        self.assertEqual(run.beyond(100, 0.9), 10)
        self.assertEqual(run.beyond(99, 0.9), 9)

    def test_p90_reported_only_with_ten_samples_beyond(self):
        def report(n):
            return run.workload_report({"setup_s": [3.0, 1.0, 2.0], "cpu_s": 1.0,
                                        "live_heap_mb": 1.0, "peak_rss_mb": 1.0,
                                        "failed": 0, "attempted": 1,
                                        "report": {"read_ms": {"dist": list(range(n))}}})
        self.assertNotIn("read_p90_ms", report(99))
        self.assertEqual(report(100)["read_p90_ms"]["value"], 89)
        self.assertEqual(report(99)["read_p50_ms"]["value"], 49)
        self.assertEqual(report(99)["setup_s"]["value"], 2.0)
        self.assertEqual(report(99)["read_samples"]["value"], 99)

    def test_distribution_names(self):
        self.assertEqual(run.pct_name("streaming.gold.batch_ms", 0.5), "streaming.gold.batch_p50_ms")
        self.assertEqual(run.flatten({"x.y_ms": {"dist": [3, 1, 2]}, "z": 4}), {"x.y_p50_ms": 2, "z": 4.0})


class MetricNames(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_follows_the_contract(self):
        b = BENCHMARK
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int))
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128)
        names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertLessEqual(len((ROOT / "BENCHMARK.json").read_bytes()), 64 * 1024)

    def test_units_follow_names(self):
        for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


class Generators(unittest.TestCase):
    def digest(self, seed):
        cp = run.classpath()
        p = subprocess.run(run.java_cmd(cp, run.STATE, ["--digest", seed]),
                           cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_same_seed_same_inputs(self):
        a, b, c = self.digest(3), self.digest(3), self.digest(4)
        self.assertEqual(a, b)
        for k in a:
            self.assertNotEqual(a[k], c[k], k)


class TinyRuns(unittest.TestCase):
    """Every workload on small inputs passes every correctness check."""

    def check(self, out, kind):
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        declared = {m["name"]: m["unit"] for m in BENCHMARK[kind]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, declared)

    def test_untraced(self):
        for w, extra in (("medallion_backfill", ["--scale", 0.05]), ("serving_mixed", ["--scale", 0.1]),
                         ("curation_batch", ["--scale", 0.2]), ("arbitrage_live", ["--rate", 200])):
            with self.subTest(w):
                out, rep = bench("--workload", w, "--seed", 11, "--seconds", 2, *extra)
                self.check(out, "end_to_end")
                for m in out["metrics"].values():
                    self.assertGreater(m["value"], 0)
                self.assertEqual(rep["report"]["error_rate"]["value"], 0)

    def test_traced(self):
        # arbitrage_live is not in BENCHMARK.json: its spread, hop and
        # generator metrics are reported as unlisted
        exercised = {
            "arbitrage_live": ["streaming.spread.batches", "state.spread.rows", "sink.gold.files",
                               "hop.silver_visible_p50_s", "generator.appended_ev_per_s", "executor.tasks"],
            "serving_mixed": ["serve.latest_p50_ms", "store.update_ms", "store.versions",
                              "store.compactions", "driver.analysis_ms", "self.util_s"],
            "curation_batch": ["cur.pairs_s", "cur.survivors", "fn.shingle_s", "fn.bloom_probe_s",
                               "shuffle.read_bytes", "scaling.local1_throughput_per_s"],
        }
        # serving runs 5 s so that at least one write (every 8th operation) happens
        extra = {"arbitrage_live": ["--rate", 200], "serving_mixed": ["--scale", 0.1],
                 "curation_batch": ["--scale", 0.2]}
        for w, names in exercised.items():
            with self.subTest(w):
                seconds = 5 if w == "serving_mixed" else 2
                out, rep = bench("--workload", w, "--seed", 12, "--seconds", seconds, "--trace", 1, *extra[w])
                self.check(out, "per_layer")
                listed = w in {x["name"] for x in BENCHMARK["workloads"]}
                if listed:
                    self.assertEqual(rep["unlisted"], {})
                values = {**{k: v["value"] for k, v in out["metrics"].items()}, **rep["unlisted"]}
                for n in names:
                    self.assertGreater(values[n], 0, n)


if __name__ == "__main__":
    unittest.main()
