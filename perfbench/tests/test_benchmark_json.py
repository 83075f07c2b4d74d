"""BENCHMARK.json names exactly the metrics the runner reports.

Run: ``python3 -m pytest perfbench/tests -q``  (imports the package's
fixtures module, starts no Spark session)
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import layers  # noqa: E402
import workloads  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_the_runner():
    got = [(m["name"], m["unit"]) for m in _spec()["end_to_end"]]
    assert sorted(got) == sorted(workloads.END_TO_END)


def test_per_layer_metrics_match_the_runner():
    got = [(m["name"], m["unit"], m["better"]) for m in _spec()["per_layer"]]
    assert got == layers.PER_LAYER


def test_metric_names_are_unique():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in _spec()[k]]
    assert len(names) == len(set(names))


def test_workloads_match_the_runner():
    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)
