"""BENCHMARK.json and run.py agree on workloads and metrics."""

import json
import os

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


@pytest.fixture(scope="module")
def bench():
    with open(BENCH) as f:
        return json.load(f)


def test_workloads_match(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_metrics_match(bench):
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)


def test_setup_has_the_largest_bound(bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
