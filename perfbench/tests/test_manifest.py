"""BENCHMARK.json is the gated projection of perfbench/metrics.json, and
every per-layer metric names the layer and end-to-end metric it moves."""

import json
import os

from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_matches_metrics_catalog():
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    cat = _load(os.path.join(HERE, "metrics.json"))
    gated = [{k: m[k] for k in ("name", "unit", "better", "bound")}
             for m in cat["end_to_end"] if m["gated"]]
    assert bench["end_to_end"] == gated
    assert bench["per_layer"] == [{k: m[k] for k in ("name", "unit", "better")}
                                  for m in cat["per_layer"]]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert bench["paths"] == ["perfbench"]


def test_layer_map_names_known_metrics_and_workloads():
    cat = _load(os.path.join(HERE, "metrics.json"))
    e2e = {m["name"] for m in cat["end_to_end"]}
    layers = {"session", "queries", "catalyst", "exec", "stats", "index", "store", "trace"}
    for m in cat["per_layer"]:
        assert m["name"].split(".")[0] == m["layer"] and m["layer"] in layers
        for mv in m["moves"]:
            assert mv["metric"] in e2e and mv["workload"] in WORKLOADS, m["name"]
