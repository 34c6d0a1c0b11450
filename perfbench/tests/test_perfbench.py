"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The smoke and mutation tests run every workload on the sf0.001 testdata (a
few minutes, and the first one builds); they are skipped when that set is
absent.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

SMALL = os.path.join(os.path.dirname(run.DEFAULT_SF), "sf0.001")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload, trace=0, mutate=0, cwd=ROOT, script=None):
    p = subprocess.run(
        [sys.executable, script or os.path.join(BENCH, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "0.5",
         "--trace", str(trace), "--sf", SMALL, "--mutate", str(mutate)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=1200)
    return p.returncode, p.stdout


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = run.tail([float(x) for x in range(1, 101)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_thousand_samples_reach_p99(self):
        value, pct, n = run.tail(list(range(1000)))
        self.assertEqual((value, pct, n), (989, 99.0, 1000))

    def test_too_few_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertEqual(run.tail(list(range(11)))[::2], (0, 11))

    def test_order_free(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 10, 11]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_contract(self):
        b = bench_json()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = ([w["name"] for w in b["workloads"]]
                 + [m["name"] for m in b["end_to_end"] + b["per_layer"]])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in b["end_to_end"]))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_names_match_run_py(self):
        b = bench_json()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))

    def test_every_layer_metric_is_documented(self):
        with open(os.path.join(BENCH, "layers.json")) as f:
            layers = json.load(f)
        self.assertEqual(set(layers["per_layer"]), set(run.PER_LAYER))
        b = bench_json()
        workloads = {w["name"] for w in b["workloads"]}
        e2e = {m["name"] for m in b["end_to_end"]}
        for name, doc in layers["per_layer"].items():
            for metric, workload in doc["moves"]:
                self.assertIn(metric, e2e, name)
                self.assertIn(workload, workloads, name)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 60},
            {"id": 4, "parent": 2, "start_ns": 15, "end_ns": 20},
        ]
        s = run.self_times(spans)
        self.assertAlmostEqual(s[1] * 1e9, 50)
        self.assertAlmostEqual(s[2] * 1e9, 25)
        self.assertAlmostEqual(s[4] * 1e9, 5)


class WarmUp(unittest.TestCase):
    def test_warmup_ops_are_left_out_of_the_timings(self):
        rec = {"workload": "dashboard_refresh", "setup_s": [1.0, 2.0, 3.0],
               "ops": [{"op": 0, "wall_s": 10.0, "warmup": True},
                       {"op": 1, "wall_s": 2.0}, {"op": 2, "wall_s": 4.0},
                       {"op": 3, "wall_s": 3.0}]}
        e = run.end_to_end(rec)
        self.assertEqual(e["setup_s"], 2.0)
        self.assertEqual(e["latency_p50_s"], 3.0)
        self.assertAlmostEqual(e["throughput_per_s"], 3 / 9.0)

    def test_trace_overhead_cancels_a_trend(self):
        # walls fall by one a step; tracing adds nothing
        ops = [{"wall_s": 10.0 - i, "traced": i % 2 == 0} for i in range(6)]
        self.assertEqual(run.trace_ratios(ops)[1:], [1.0, 1.0])


@unittest.skipUnless(os.path.exists(os.path.join(SMALL, "events.parquet")),
                     "sf0.001 testdata absent")
class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        code, out = run_bench(workload, trace=trace)
        self.assertEqual(code, 0, out[-3000:])
        res = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        return res

    def test_stream_ingest(self):
        res = self.check("stream_ingest", 0)
        for k in run.END_TO_END:
            self.assertGreater(res["metrics"][k]["value"], 0, k)
        res = self.check("stream_ingest", 1)
        self.assertGreater(res["metrics"]["sink.warehouse_batch_s"]["value"], 0)
        self.assertEqual(res["metrics"]["sink.mv_applied_ratio"]["value"], 1.0)

    def test_dashboard_refresh(self):
        self.check("dashboard_refresh", 0)
        res = self.check("dashboard_refresh", 1)
        self.assertGreater(res["metrics"]["ingest.read_jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["ext.construct_s"]["value"], 0)

    def test_month_extract(self):
        self.check("month_extract", 1)


@unittest.skipUnless(os.path.exists(os.path.join(SMALL, "events.parquet")),
                     "sf0.001 testdata absent")
class Mutation(unittest.TestCase):
    """A deliberately wrong result must show as failed ops."""

    def assert_caught(self, workload):
        code, out = run_bench(workload, mutate=1)
        self.assertEqual(code, 0, out[-3000:])
        res = json.loads(out.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_dashboard_drops_a_row(self):
        self.assert_caught("dashboard_refresh")

    def test_stream_skips_a_merge(self):
        self.assert_caught("stream_ingest")

    def test_month_cap_off_by_one(self):
        self.assert_caught("month_extract")


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, out = run_bench("stream_ingest", cwd=d,
                                  script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertNotIn('"metrics"', out)


if __name__ == "__main__":
    unittest.main()
