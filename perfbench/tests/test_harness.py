"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests -v

The last test runs the benchmark command end to end, the way it is run
for measurement, and takes about a minute.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from stats import median, offstage, parse_result, percentile, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertIsNone(percentile(range(1, 20), 50))  # rank 10 of 19: 9 beyond
        self.assertEqual(percentile(range(1, 21), 50), 10)  # rank 10 of 20: 10 beyond

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(percentile(range(1, 100), 90))
        self.assertEqual(percentile(range(1, 101), 90), 90)
        self.assertEqual(percentile(range(1, 201), 90), 180)

    def test_order_and_empty(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(percentile(xs, 50), 3.0)
        self.assertIsNone(percentile([], 50))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


class StageUnion(unittest.TestCase):
    def test_disjoint_nested_and_overlapping(self):
        self.assertEqual(union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([(0, 4), (3, 6), (5, 7)]), 7)
        self.assertEqual(union_length([]), 0)

    def test_clipped_to_the_pass(self):
        self.assertEqual(union_length([(-5, 2), (8, 20)], lo=0, hi=10), 4)
        self.assertEqual(union_length([(11, 12)], lo=0, hi=10), 0)

    def test_offstage_is_wall_minus_union(self):
        # a 10 s pass whose stages cover [1,3] and [2,6] (overlapping) and
        # [8,9]: 6 s inside stages, 4 s off-stage
        self.assertEqual(offstage(10, [(1, 3), (2, 6), (8, 9)], 0, 10), 4)

    def test_span_self_time(self):
        spans = [{"id": 0, "name": "pass", "start": 0, "end": 10000, "parent": -1},
                 {"id": 1, "name": "q", "start": 1000, "end": 9000, "parent": 0},
                 {"id": 2, "name": "build", "start": 1000, "end": 2000, "parent": 1},
                 {"id": 3, "name": "action", "start": 2000, "end": 8000, "parent": 1}]
        self.assertEqual(layers.self_times(spans, 0, 10000),
                         {"pass": 2.0, "op": 1.0, "build": 1.0, "action": 6.0})


class ResultLine(unittest.TestCase):
    LINE = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                       "metrics": {"pass_s": {"value": 1.5, "unit": "s"}}})

    def test_last_line_after_noise(self):
        out = "some log line\n\n" + self.LINE + "\n"
        self.assertEqual(parse_result(out)["metrics"]["pass_s"]["value"], 1.5)

    def test_sbt_relayed_output_is_rejected(self):
        # what `sbt run` made of graft.Bench's JSON: a prefixed line and
        # a status line after it -- the reason every BENCH_rNN parsed to null
        out = f"[info] {self.LINE}\n[success] Total time: 40 s\n"
        with self.assertRaises(ValueError):
            parse_result(out)

    def test_extra_keys_are_rejected(self):
        with self.assertRaises(ValueError):
            parse_result(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                     "metrics": {}, "extra": 1}))


class Checker(unittest.TestCase):
    def test_hash_ignores_column_and_row_order_and_number_spelling(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0]})
        b = pd.DataFrame({"v": [3, 0.5], "k": [2.0, 1.0]})
        self.assertEqual(check.frame_hash(a), check.frame_hash(b))
        c = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.5]})
        self.assertNotEqual(check.frame_hash(a), check.frame_hash(c))


class Generator(unittest.TestCase):
    SPEC = {"scale": 0.01, "tables": ["star", "documents", "stream"],
            "near_dup_share": 0.1, "exact_dup_share": 0.03, "stream_events": 2000,
            "stream_files": 100, "open_events": 200, "open_files": 10, "stream_dup_share": 0.02,
            "ops": ["a", "b", "c"], "passes": 4}

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        os.makedirs(run.STATE, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.STATE) as d:
            a, ma = gen.generate(os.path.join(d, "1"), 7, self.SPEC)
            b, mb = gen.generate(os.path.join(d, "2"), 7, self.SPEC)
            c, mc = gen.generate(os.path.join(d, "3"), 8, self.SPEC)
            self.assertEqual(ma["op_orders"], mb["op_orders"])
            for name in ("lineitem.parquet", "documents.parquet", "events_stream/part-00042.parquet"):
                with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)
            with open(os.path.join(a, "documents.parquet"), "rb") as fa, \
                    open(os.path.join(c, "documents.parquet"), "rb") as fc:
                self.assertNotEqual(fa.read(), fc.read())
            self.assertEqual(mc["rows"]["stream_files"], 100)
            self.assertEqual(len(os.listdir(os.path.join(c, "events_open"))), 10)
            self.assertTrue(mc["rows"]["near_dups"] > 0)


class BenchmarkJson(unittest.TestCase):
    def test_keys_and_bounds(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(SPEC["paths"], ["perfbench"])
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_workloads_and_layers_match_the_harness(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], sorted(run.WORKLOADS))
        self.assertEqual(set(layers.INTERACTIONS["workloads"]), set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]],
                         layers.PER_LAYER)
        for e in layers.INTERACTIONS["layers"]:
            self.assertIn(e["on"], run.WORKLOADS)
            self.assertIn(e["not_on"], list(run.WORKLOADS) + [None])


class Command(unittest.TestCase):
    def test_fails_without_graft_sources(self):
        """Run in a directory holding only BENCHMARK.json and perfbench/:
        a non-zero exit and no result line."""
        os.makedirs(run.STATE, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.STATE) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")

    def test_stdout_of_a_real_run(self):
        """The command as it is run for measurement: one JSON line on
        stdout carrying every end-to-end metric with its unit."""
        wl = SPEC["workloads"][-1]["name"]
        r = subprocess.run(SPEC["command"] + ["--workload", wl, "--seed", "3", "--seconds", "1",
                                              "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertEqual(len(r.stdout.splitlines()), 1, r.stdout)
        res = parse_result(r.stdout)
        self.assertTrue(res["correct"], r.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
