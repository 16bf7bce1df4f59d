"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload at the tiny ``smoke`` size and
check that every named metric appears with its unit and that no op
failed. They start Spark, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import summarize  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_design():
    b, d = bench_json(), summarize.load_design()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(d["workloads"])
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]] == [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in d["end_to_end"]]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (m["name"], m["unit"], m["better"]) for m in d["per_layer"]]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_self_time_subtracts_covered_child_intervals():
    recorded = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 3.5, "end": 4.5},
    ]
    got = spans.self_seconds(recorded)
    assert got == pytest.approx({1: 6.0, 2: 3.0, 3: 1.0, 4: 1.0})


def test_locf_carries_last_observation_over_gaps():
    import workloads

    h = 3_600_000_000
    observed = {"en": {0: (1, 0.5, 0.5, 1), 2 * h: (2, 0.1, 0.2, 3)}}
    assert workloads.locf(observed, h) == [
        ("en", 0, 1, 0.5, 0.5, 1, False),
        ("en", h, 1, 0.5, 0.5, 1, True),
        ("en", 2 * h, 2, 0.1, 0.2, 3, False),
    ]


def run_smoke(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["ingest", "incremental"])
def test_smoke_run_reports_every_metric_and_no_failure(workload):
    b = bench_json()
    lines, result = run_smoke(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in b["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    printed = {ln.split()[1]: ln.split()[2:] for ln in lines
               if ln.startswith("metric ")}
    assert printed["failed_op_ratio"] == ["0", "ratio"]
    named = summarize.load_design()["named_metrics"]
    for entry in named["both"] + named[workload]:
        name, unit = entry.split()[:2]
        assert printed[name][1] == unit, name


@pytest.mark.parametrize("workload", ["ingest", "incremental"])
def test_traced_smoke_run_reports_every_layer_metric(workload):
    b = bench_json()
    lines, result = run_smoke(workload, trace=1)
    assert result["correct"] is True and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    timed = [m["name"] for m in b["per_layer"] if m["unit"] == "s"]
    assert all(result["metrics"][k]["value"] > 0 for k in timed)
    assert any(ln.startswith("layer ") for ln in lines)
