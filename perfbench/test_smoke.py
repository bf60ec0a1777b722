"""Smoke test of the benchmark at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs the benchmark command as the driver does, with --smoke.
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
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", "project", "--seed", "7", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(p: subprocess.CompletedProcess, spec: list[dict]) -> dict:
    res = result(p)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        # the human-readable lines print the metric by name with its unit
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in p.stdout.splitlines()), m["name"]
    return res


def fail_frac(p: subprocess.CompletedProcess) -> float:
    """The printed fail_frac line (not part of the JSON result)."""
    line = next(l.split() for l in p.stdout.splitlines() if l.split()[:1] == ["fail_frac"])
    assert line[-1] == "frac"
    return float(line[1])


def test_end_to_end_metrics_printed_with_units():
    p = bench("--seconds", "1", "--trace", "0", "--smoke")
    res = check_metrics(p, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert fail_frac(p) == 0.0


def test_per_layer_metrics_printed_with_units():
    res = check_metrics(bench("--seconds", "2", "--trace", "1", "--smoke"), SPEC["per_layer"])
    assert res["correct"] and res["failed"] == 0


def test_corrupted_output_counts_as_failure():
    p = bench("--seconds", "1", "--trace", "0", "--smoke", "--corrupt")
    res = result(p)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert fail_frac(p) == 1.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
