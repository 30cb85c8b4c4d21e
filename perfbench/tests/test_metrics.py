import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run as bench_run
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_printed_metrics_are_the_declared_ones():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: u for k, (u, _) in PER_LAYER.items()}


def test_names_and_units_fit_the_result_format():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(m["unit"])
               for m in SPEC["end_to_end"] + SPEC["per_layer"])
    assert "setup_s" in END_TO_END


def test_workloads_match_the_runner():
    assert tuple(w["name"] for w in SPEC["workloads"]) == bench_run.WORKLOAD_NAMES
    from perfbench.workloads import WORKLOADS

    assert tuple(WORKLOADS) == bench_run.WORKLOAD_NAMES


def test_assemble_rejects_undeclared_and_missing_names():
    units = {"a_ms": "ms", "b": "count"}
    out = bench_run.assemble({"a_ms": 1, "b": 2}, units)
    assert out == {"a_ms": {"value": 1.0, "unit": "ms"},
                   "b": {"value": 2.0, "unit": "count"}}
    with pytest.raises(ValueError):
        bench_run.assemble({"a_ms": 1, "b": 2, "c": 3}, units)
    with pytest.raises(ValueError):
        bench_run.assemble({"a_ms": 1}, units)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "{" not in p.stdout
