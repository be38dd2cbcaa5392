"""Tiny-size smoke of every workload, untraced and traced (the traced
batch-dedup run also runs the near-pair query mix).

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own benchmark process, as the benchmark's users do.
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

from run import END_TO_END, PER_LAYER  # noqa: E402
from spans import parse_size_total  # noqa: E402

WORKLOADS = ("batch-dedup", "incremental-fold")


def _run(cwd: str, workload: str, trace: int, scale: float = 0.05):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_smoke(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stderr[-3000:]
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    meta = json.loads(lines[-2])
    assert meta["window"]["busy_probe_pre_s"] > 0
    if trace:
        assert os.path.exists(meta["config"]["span_file"])
        with open(meta["config"]["span_file"]) as f:
            spans = json.load(f)
        assert spans and all(
            {"name", "start", "end", "parent", "op"} <= set(s) for s in spans
        )
    else:
        assert result["metrics"]["success_ratio"]["value"] == 1.0
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_library(tmp_path):
    """Without the library beside it, the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "batch-dedup", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_parse_size_total():
    assert parse_size_total("total (min, med, max)\n1.5 KiB (1.0 B, ...)") == 1536
    assert parse_size_total("12.0 MiB") == 12 * 2**20
    assert parse_size_total("0") == 0.0
