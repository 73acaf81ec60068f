"""The benchmark's own tests: declared names, generator determinism,
and a tiny-size smoke run of each workload in both modes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.traced import UNITS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_names_are_well_formed():
    b = _declared()
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_declared_workloads_and_layers_match_the_code():
    b = _declared()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == UNITS
    assert any(m["name"] == "setup_s" for m in b["end_to_end"])


def test_same_seed_same_bytes(tmp_path):
    paths = []
    for run in ("a", "b", "c"):
        d = tmp_path / run
        d.mkdir()
        seed = 8 if run == "c" else 7
        gen.write_lineitem_csv(str(d / "l.csv"), seed, 500)
        gen.write_tpch_sqlite(str(d / "t.db"), seed, 50)
        paths.append(d)
    a, b, c = ([(p / f).read_bytes() for f in ("l.csv", "t.db")] for p in paths)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_expected_values_follow_the_rows(tmp_path):
    exp = gen.write_lineitem_csv(str(tmp_path / "l.csv"), 3, 300)
    rows = list(gen.lineitem_rows(3, 300))
    assert exp["rows"] == 300
    assert exp["checksum"] == sum(gen.row_hash(r) for r in rows)
    assert any(r[-1] is None for r in rows)  # some NULLs ride the load


def _run(*args) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run(workload, trace):
    b = _declared()
    result, lines = _run("--workload", workload, "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--scale", "tiny")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = b["per_layer"] if trace else b["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    record = json.loads(lines[-2])
    assert set(record["host"]) >= {"nproc", "loadavg", "steal_s", "dirty_kb", "first_task_s"}
    if trace:
        assert record["largest_layer"] in result["metrics"]


def test_all_runs_every_workload():
    b = _declared()
    result, lines = _run("--workload", "all", "--seed", "2", "--seconds", "1",
                         "--trace", "0", "--scale", "tiny")
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {
        f"{w['name']}/{m['name']}" for w in b["workloads"] for m in b["end_to_end"]
    }
    assert len(lines) == 1 + len(result["metrics"])  # one line per metric


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ exits
    non-zero and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "csv_lineitem_pg",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
