"""The printed result line against BENCHMARK.json."""

import json
import os
import re

import run
import tracing
from workloads import WORKLOADS

NAME = re.compile(r"[A-Za-z0-9_.-]+")
with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_end_to_end_names_match_benchmark_json():
    listed = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert listed == run.END_TO_END


def test_per_layer_names_match_benchmark_json():
    listed = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert listed == tracing.per_layer_units()


def test_names_are_well_formed():
    names = list(run.END_TO_END) + list(tracing.per_layer_units())
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_workloads_are_runnable():
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)


def test_result_line_prints_every_metric_with_its_unit():
    line = run.result_line(True, 7, 0, {"op_s": 1.25}, run.END_TO_END)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["op_s"] == {"value": 1.25, "unit": "s"}
    assert {n: m["unit"] for n, m in out["metrics"].items()} == run.END_TO_END
