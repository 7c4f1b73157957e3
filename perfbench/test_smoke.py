"""Smoke tests of the benchmark itself, at toy size.

    python3 -m pytest perfbench/test_smoke.py

Each toy run starts a local Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import gen
import oracle
from layers import LAYER_UNITS
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [w["name"] for w in BENCH["workloads"]]
    assert 2 <= len(names) <= 8 and set(names) <= set(WORKLOADS)
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    assert all(NAME.match(n) for n in all_names)
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in BENCH["end_to_end"] if m["name"] == "setup_s"
    ).items()
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == LAYER_UNITS


def test_generator_is_seeded():
    shape = WORKLOADS["stream_feedback"].toy
    a, b = gen.generate(shape, 7), gen.generate(shape, 7)
    assert gen.base_rows(a) == gen.base_rows(b)
    assert gen.delta_rows(a, 7, 3) == gen.delta_rows(b, 7, 3)
    assert gen.base_rows(a) != gen.base_rows(gen.generate(shape, 8))


def test_recorded_goldens_match_reference():
    with open(os.path.join(HERE, "goldens.json")) as fh:
        recorded = json.load(fh)["batch_bulk"]["edges"]
    shape = WORKLOADS["batch_bulk"].shape
    for seed, want in recorded.items():
        assert oracle.closure_digest(gen.generate(shape, int(seed))) == want, seed


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_toy_run_prints_every_metric(workload, trace):
    out = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--toy"))
    assert out["correct"] and out["failed"] == 0
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["batch_bulk", "stream_feedback"])
def test_corrupted_edges_fail_the_check(workload):
    out = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--toy", "--corrupt"))
    assert not out["correct"] and out["failed"] >= 1


def test_checkout_without_the_engine_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "batch_bulk", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
