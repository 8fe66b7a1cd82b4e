#!/usr/bin/env python3
"""The benchmark's own tests: the input generator is deterministic in the
seed, the metric names and per-layer units the benchmark reports are the
ones BENCHMARK.json declares, and the summary refuses a record whose names
or units differ.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def main_class(*args):
    classes = build.build()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main"] + list(args),
                         check=True, capture_output=True, text=True)
    return out.stdout.strip().splitlines()[-1]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(main_class("--gen-digest", "1", "--seed", "7"),
                         main_class("--gen-digest", "1", "--seed", "7"))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(main_class("--gen-digest", "1", "--seed", "7"),
                            main_class("--gen-digest", "1", "--seed", "8"))


class MetricNamesTest(unittest.TestCase):
    def test_reported_names_equal_benchmark_json(self):
        bench = run.declared()
        reported = json.loads(main_class("--list-metrics", "1"))
        for w in bench["workloads"]:
            names = reported[w["name"]]
            self.assertEqual(names["end_to_end"], [m["name"] for m in bench["end_to_end"]])
            self.assertEqual(names["per_layer"], [m["name"] for m in bench["per_layer"]])
            self.assertEqual(names["per_layer_units"],
                             {m["name"]: m["unit"] for m in bench["per_layer"]})

    def test_summary_refuses_other_names(self):
        bench = run.declared()
        metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in bench["end_to_end"]}
        record = {"workload": bench["workloads"][0]["name"], "correct": True,
                  "attempted": 3, "failed": 0, "end_to_end": metrics}
        self.assertEqual(run.summarize(record, bench, 0)["metrics"], metrics)
        record["end_to_end"] = dict(metrics, extra_s={"value": 1.0, "unit": "s"})
        with self.assertRaises(ValueError):
            run.summarize(record, bench, 0)
        record["end_to_end"] = dict(metrics, setup_s={"value": 1.0, "unit": "ms"})
        with self.assertRaises(ValueError):
            run.summarize(record, bench, 0)
        record["end_to_end"] = dict(metrics, setup_s={"value": None, "unit": "s"})
        with self.assertRaises(ValueError):
            run.summarize(record, bench, 0)


if __name__ == "__main__":
    unittest.main()
