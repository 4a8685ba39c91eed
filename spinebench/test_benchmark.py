"""The benchmark's own test: every metric BENCHMARK.json names is emitted
by run.py with the unit and direction declared there.

    python3 -m pytest spinebench/test_benchmark.py -q

The smoke test runs every workload at tiny sizes (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec(entries) -> dict:
    return {m["name"]: (m["unit"], m["better"]) for m in entries}


def test_declared_metrics_are_the_ones_run_py_emits():
    bench = _declared()
    assert _spec(bench["end_to_end"]) == run.END_TO_END
    assert _spec(bench["per_layer"]) == run.per_layer_spec()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert bench["command"] == ["python3", "spinebench/run.py"]


def test_design_table_names_declared_metrics_and_workloads():
    bench = _declared()
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    for row in design["layers"]:
        assert row["metric"] in e2e, row
        assert set(row["workloads"]) <= workloads, row
    assert set(design["pairwise_f1_floor"]) == workloads


def test_result_line_has_exactly_the_contract_keys():
    res = {
        "correct": True,
        "attempted": 2,
        "failed": 0,
        "end_to_end": {k: 1.0 for k in run.END_TO_END},
        "per_layer": {"extract.wall_s": 1.0},
    }
    for trace in (False, True):
        line = run.result_line(res, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        spec = run.per_layer_spec() if trace else run.END_TO_END
        assert {k: v["unit"] for k, v in line["metrics"].items()} == {
            k: unit for k, (unit, _) in spec.items()
        }


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    (tmp_path / "spinebench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (tmp_path / "spinebench" / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run(
        [sys.executable, "spinebench/run.py", "--workload", "crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.slow
def test_smoke_emits_every_declared_metric_with_its_unit():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    bench = _declared()
    assert set(last["workloads"]) == {w["name"] for w in bench["workloads"]}
    for name, res in last["workloads"].items():
        assert res["correct"] and res["failed"] == 0, name
        for m in bench["end_to_end"]:
            assert res["metrics"][m["name"]]["unit"] == m["unit"], (name, m)
            assert res["metrics"][m["name"]]["value"] > 0, (name, m)
        for m in bench["per_layer"]:
            assert res["per_layer"][m["name"]]["unit"] == m["unit"], (name, m)
