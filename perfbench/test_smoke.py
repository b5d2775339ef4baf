"""The benchmark's own tests, on tiny inputs (``--smoke``).

Every workload, traced, must be correct and report exactly the metric
names and units BENCHMARK.json declares; without the package next to it
the benchmark must fail without printing a result.

    python3 -m pytest perfbench/test_smoke.py -q     # about 5 minutes on 4 cores
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 5

sys.path.insert(0, str(HERE))
from run import END_TO_END_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", "1", "--smoke"],
        capture_output=True, text=True, cwd=cwd, timeout=900,
    )


def test_end_to_end_units_match_spec():
    assert END_TO_END_UNITS == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_workload(workload):
    proc = _run(workload)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    layer = res["metrics"]
    assert {k: v["unit"] for k, v in layer.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layer["failed_frac"]["value"] == 0

    record = json.loads((ROOT / ".perfbench" / "results" / f"{workload}-s{SEED}-t1.json").read_text())
    assert set(record["end_to_end"]) == set(END_TO_END_UNITS)
    assert all(v > 0 for v in record["end_to_end"].values())

    # each workload stresses the layer it names
    value = {k: v["value"] for k, v in layer.items()}
    assert (value["dedup.exact_s"] > 0) == (workload == "corpus_build")
    if workload == "corpus_build":
        assert value["dedup.exact_dropped"] > 0 and value["dedup.verified_pairs"] > 0
    if workload == "extract_skewed":
        assert value["ordering.key_skew"] > 5
    if workload == "resume_quarter":
        assert 0.1 < value["resume.rows_todo"] / record["input_turns"] < 0.45
        assert value["resume.buckets_skipped"] == 48


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("extract_uniform", cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
