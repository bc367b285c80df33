"""The benchmark's own test: short runs of each workload pass their checks,
a planted wrong answer raises ``failed``, the traced run reports every
per-layer metric, and a directory without the engine exits non-zero.

Each Spark run takes about a minute::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, *extra: str, cwd: Path = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p, None


def test_spec_names_every_workload():
    sys.path.insert(0, str(ROOT))
    from perfbench.run import END_TO_END, WORKLOADS, per_layer_units

    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == per_layer_units()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_short_run_is_correct(workload):
    p, res = bench(workload, "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_answer_is_counted(workload):
    p, res = bench(workload, "--trace", "1", "--plant-wrong-answer")
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] is False and res["failed"] > 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert res["metrics"]["spark.jobs"]["value"] > 0


def test_without_the_engine_it_exits_nonzero(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for rel in SPEC["paths"]:
        shutil.copytree(ROOT / rel, tmp_path / rel, ignore=shutil.ignore_patterns("__pycache__"))
    p, res = bench("eod_load_and_restate", cwd=tmp_path)
    assert p.returncode != 0 and res is None
