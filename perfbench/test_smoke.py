"""Smoke test: every workload in miniature, traced and untraced.

Builds a scale-0.01 dataset and runs ``run.py`` on it for each workload,
including ``tpch_sf1``, which ``BENCHMARK.json`` does not list, with
``--seconds 1``. Every metric ``BENCHMARK.json`` names must be present
with its unit, and every result must match the DuckDB oracle. A 0-row
agreement fails, and below scale 0.01 some oracles and ``session_dml``
SELECTs return no rows (q5 at 0.001).

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module")
def mini_data(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("perfbench") / "sf0.01")
    datagen.build(0.01, path)
    return path


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_every_metric(mini_data, workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--data", mini_data],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        name: m["unit"] for name, m in result["metrics"].items()}
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_dataset_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    datagen.build(0.001, a)
    datagen.build(0.001, b)
    import duckdb

    for name in sorted(os.listdir(a)):
        q = "SELECT * FROM '{}' ORDER BY ALL"
        assert (duckdb.sql(q.format(os.path.join(a, name))).fetchall()
                == duckdb.sql(q.format(os.path.join(b, name))).fetchall()), name


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark must fail, printing no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "session_dml", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
