"""The benchmark command end to end.

The smoke runs start Spark (about a minute each); the refusal tests do not.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(PERFBENCH)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int, env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600, env=env)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    spec = _spec()
    out = _run(REPO, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for m in wanted:
        value = result["metrics"][m["name"]]["value"]
        assert isinstance(value, (int, float))
        if not trace:
            assert value > 0
    assert not os.path.exists(os.path.join(REPO, ".perfbench_runs")) or not os.listdir(
        os.path.join(REPO, ".perfbench_runs"))


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = _run(str(tmp_path), _spec()["workloads"][0]["name"], 0, env=env)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_refuses_more_cores_than_nproc():
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0)) + 1))
    out = _run(REPO, _spec()["workloads"][0]["name"], 0, env=env)
    assert out.returncode == 2
    assert "refusing to run" in out.stderr
    assert out.stdout.strip() == ""
