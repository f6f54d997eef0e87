"""Tests for the benchmark itself.

    python3 -m pytest perfbench -q

The end-to-end tests start a driver JVM and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def test_data_holds_every_table():
    tables = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"}
    assert {f.removesuffix(".parquet")
            for f in os.listdir(workloads.DATA_DIR)} == tables


def test_percentile_interpolates():
    assert run.percentile([3.0], 90) == 3.0
    assert run.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert abs(run.percentile(list(range(11)), 90) - 9.0) < 1e-12


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_run_from_another_directory(tmp_path):
    """Launched from outside the checkout root, the docstore ops (whose
    data source runs on Python workers) still import the package."""
    p = _bench(str(tmp_path), "--workload", "etl_ingest", "--seed", "3",
               "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, p.stdout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_refuses_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()
