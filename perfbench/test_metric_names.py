"""The runner reports exactly the metrics BENCHMARK.json declares, with
the same units. Needs no Spark session.

Run with ``python3 -m pytest -q perfbench/test_metric_names.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
    BENCH = json.load(f)


def test_end_to_end_names_and_units():
    m, _ = run.e2e_metrics({"ops": [], "done": True}, 0)
    assert list(m) == list(run.E2E_UNITS)
    declared = {x["name"]: x["unit"] for x in BENCH["end_to_end"]}
    assert declared == run.E2E_UNITS


def test_per_layer_names_and_units(tmp_path):
    import spans
    import worker
    import workloads

    m, _, _ = worker.layer_metrics(spans.Tracer("t"), str(tmp_path), workloads.Result())
    declared = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    assert set(m) == set(declared)
    assert all(run.layer_unit(k) == u for k, u in declared.items())


def test_workloads_exist():
    import workloads

    for w in BENCH["workloads"]:
        assert w["name"] in run.WORKLOADS and w["name"] in workloads.WORKLOADS
