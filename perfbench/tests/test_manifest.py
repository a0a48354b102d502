"""BENCHMARK.json names exactly the metrics run.py reports."""

import json
import os

import run
from workloads import WORKLOADS

MANIFEST = os.path.join(run.ROOT, "BENCHMARK.json")


def test_manifest_matches_run():
    m = json.load(open(MANIFEST))
    assert [(e["name"], e["unit"]) for e in m["end_to_end"]] == list(run.END_TO_END)
    assert [(e["name"], e["unit"]) for e in m["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in m["workloads"]) == sorted(WORKLOADS)
