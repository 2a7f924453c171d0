"""Smoke test of the benchmark at toy sizes.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json once untraced and once traced with
``--toy`` (tables at 1/10 of the benchmark's scale, a four-file post
backlog) from the checkout root, and checks that each run passes its
output checks and reports exactly the declared metrics with their units.
Takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload, trace):
    res = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for m in declared:
        value = res["metrics"][m["name"]]["value"]
        assert isinstance(value, (int, float))
        if not trace:
            assert value > 0, m["name"]


def test_plan_modules_match_the_mix():
    """BENCHMARK.json declares one plans.<module>.repeat_s per plans module
    of the batch mix; the two must not drift apart."""
    sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]
    from mental_health_bigdata_project_spark.plans import QUERIES
    from workloads import BATCH_MIX
    mix = {QUERIES[q].__module__.rsplit(".", 1)[-1]
           for group in BATCH_MIX.values() for q in group}
    declared = {m["name"].split(".")[1] for m in SPEC["per_layer"]
                if m["name"].startswith("plans.") and m["name"].count(".") == 2}
    assert mix == declared


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(ROOT, "perfbench", name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "batch", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
