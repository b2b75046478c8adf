"""Self-test of the benchmark: every workload at tiny size.

    python3 -m pytest perfbench/tests -q

Each workload runs end to end three times (end-to-end metrics, per-layer
metrics, and with a planted wrong expectation), about a minute each.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT, env=None):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def tiny(workload, trace, *extra):
    return bench("--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny", *extra)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_unit(workload, trace, section):
    code, out, err = tiny(workload, trace)
    assert code == 0, err[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    for m in SPEC[section]:
        assert m["name"] in out["metrics"], m["name"]
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace == 0:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_expectation_counts_as_failure(workload):
    code, out, err = tiny(workload, 0, "--plant-wrong-expectation")
    assert code != 0
    assert out["correct"] is False
    # the warm-up input has its own, unplanted reference; every timed pass fails
    assert out["failed"] == out["attempted"] - 1 >= 1, err[-3000:]


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code, out, _ = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                         "--trace", "0", cwd=tmp_path, env=env)
    assert code != 0 and out is None


def test_url_weighted_mean():
    assert run.url_weighted_mean([(100.0, 1), (1000.0, 3)]) == 775.0
    assert run.url_weighted_mean([(5.0, 0), (7.0, 2)]) == 7.0


def test_main_thread_busy_is_the_union_of_main_spans():
    spans = [
        ("a", "MainThread", True, 0.0, 2.0, 0),
        ("b", "MainThread", True, 1.0, 3.0, 0),
        ("c", "pool", False, 0.0, 10.0, 0),
        ("d", "MainThread", True, 5.0, 6.0, 0),
    ]
    assert tracing.main_thread_busy_s(spans) == pytest.approx(4.0)
