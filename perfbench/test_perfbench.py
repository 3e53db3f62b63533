"""The benchmark's own tests, at a tiny size (``--size tiny``).

    python3 -m pytest perfbench -q

Each case runs ``perfbench/run.py`` as a subprocess, the way the
benchmark is used. A run takes about half a minute, mostly JVM start.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("churn", "erase")
# traced self-times of an op type must sum to its traced wall within this share
SELF_TIME_TOLERANCE = 0.01


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(*extra, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--size", "tiny", "--seconds", "2", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return p.returncode, lines, result


_CACHE: dict = {}


def run_cached(workload: str, trace: int):
    key = (workload, trace)
    if key not in _CACHE:
        _CACHE[key] = _run("--workload", workload, "--seed", "5", "--trace", str(trace))
    return _CACHE[key]


def _printed(lines):
    """``{name: unit}`` from the ``# metric <name> = <value> <unit>`` lines."""
    out = {}
    for line in lines:
        if line.startswith("# metric "):
            name, rest = line[len("# metric "):].split(" = ")
            out[name] = rest.split()[-1]
    return out


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")
    assert 1 <= len(b["per_layer"]) <= 128


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    rc, lines, result = run_cached(workload, 0)
    assert rc == 0, lines[-20:]
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert _printed(lines) == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_self_times(workload):
    rc, lines, result = run_cached(workload, 1)
    assert rc == 0, lines[-20:]
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert _printed(lines) == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    walls = [k for k in m if k.startswith("op.") and k.endswith(".wall_s") and m[k] > 0]
    assert walls
    for k in walls:
        op = k[len("op."):-len(".wall_s")]
        assert abs(m[f"op.{op}.self_sum_s"] - m[k]) <= SELF_TIME_TOLERANCE * m[k], op
        assert m[f"spark.{op}.jobs"] >= 1, op
        assert abs(m[f"spark.{op}.job_s"] + m[f"driver.{op}.gap_s"] - m[k]) <= 1e-9 + 1e-6 * m[k]


def test_planted_fault_trips_erase_gate():
    rc, lines, result = _run("--workload", "erase", "--seed", "5", "--fault", "skip-forget")
    assert rc == 1
    assert result is not None and result["correct"] is False
    assert any("key still in registry" in line for line in lines)


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    rc, lines, result = _run("--workload", "churn", "--seed", "1", cwd=tmp_path,
                             script=str(tmp_path / "perfbench" / "run.py"))
    assert rc != 0
    assert result is None
