"""BENCHMARK.json agrees with what run.py reports, and run.py refuses to run
outside a checkout of the project."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench.run import END_TO_END, ROOT, WORKLOADS, per_layer_names, per_layer_unit

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert [m["name"] for m in b["per_layer"]] == per_layer_names()
    assert all(m["unit"] == per_layer_unit(m["name"]) for m in b["per_layer"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]]
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_refuses_to_run_without_the_project(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2
    assert p.stdout == ""
    assert "not a checkout" in p.stderr
