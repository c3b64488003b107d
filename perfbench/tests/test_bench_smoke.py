"""End-to-end smoke runs of every workload on tiny inputs (sf 0.001), and
the refusal to run without the program under test. Each smoke run starts
its own JVM, so this file takes a couple of minutes."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from workloads import END_TO_END, PER_LAYER

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload,trace", [
    ("olap_verbs", 1), ("corpus_prep", 0), ("cdc_upsert", 1)])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    names = [m[0] for m in (PER_LAYER if trace else END_TO_END)]
    assert list(result["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, "--workload", "olap_verbs", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
