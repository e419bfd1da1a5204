"""Smoke test of the benchmark itself, at a tiny input size.

    python -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced; the test asserts that
every metric BENCHMARK.json names is printed with its unit, and that
every operation the run attempted was checked and passed.
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
sys.path.insert(0, HERE)

import measure  # noqa: E402
from measure import parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_and_checked(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", trace, "--scale", "0.05")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    kind = "per_layer" if trace == "1" else "end_to_end"
    expected = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    # every attempted operation went through its workload's check
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == context["warmup_iterations"] + context["timed_iterations"]
    assert context["mismatches"] == []
    for key in ("nproc", "loadavg_before", "loadavg_after", "warmup_s", "env"):
        assert key in context


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", BENCH["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("text, value", [
    ("10,000", 10000.0),
    ("total (min, med, max (stageId: taskId))\n3.7 MiB (1.8 MiB, 1.9 MiB, 1.9 MiB (stage 1.0: task 2))",
     3.7 * (1 << 20)),
    ("total (min, med, max (stageId: taskId))\n662 ms (323 ms, 339 ms, 339 ms (stage 3.0: task 9))",
     0.662),
    ("8.4 s", 8.4),
    ("1077.0 B", 1077.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def test_chain_self_times_sum_to_the_outermost_time():
    sys.path.insert(0, ROOT)
    from workloads import chain_self_times

    # a noisy prefix that reads slower than its successor, and one that
    # reads slower than the whole chain, still give self times >= 0
    # that add up to the last step's time
    got = chain_self_times([("scan", 1.0), ("features", 0.8), ("asof", 3.5), ("job", 3.0)])
    assert got == {"scan": 1.0, "features": 0.0, "asof": 2.0, "job": 0.0}
    assert sum(got.values()) == 3.0


@pytest.mark.skipif(measure._SYS_KCMP is None, reason="no kcmp syscall number for this machine")
def test_shares_memory_tells_one_address_space_from_two():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert measure.shares_memory(os.getpid(), os.getpid())
        assert not measure.shares_memory(os.getpid(), child.pid)
    finally:
        child.kill()
        child.wait()
