"""BENCHMARK.json agrees with what run.py emits, and run.py refuses to run
without the package it measures. Run: python3 -m pytest kgbench/tests -q"""

import json
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_matches_run():
    spec = _spec()
    listed = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    emitted = [(n, run.per_layer_unit(n)) for n in run.per_layer_names()]
    assert listed == emitted
    assert len(set(run.per_layer_names())) == len(listed) <= 128


def test_names_and_units_are_well_formed():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    for m in metrics + spec["workloads"]:
        assert NAME.match(m["name"]), m["name"]
    for m in metrics:
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "kg_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
