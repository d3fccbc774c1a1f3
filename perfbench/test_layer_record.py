"""Checks on the benchmark's layer record.

    python -m pytest perfbench -q

The Spark-backed tests drive ``run.py --trace 1 --record`` as a
subprocess, exactly as a user would, on the verbs and iterative
workloads (about two minutes together on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def _traced(workload: str, tmp_path_factory) -> dict:
    path = tmp_path_factory.mktemp(workload) / "record.json"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7", "--seconds", "1"]
    subprocess.run([*cmd, "--trace", "1", "--record", str(path)], cwd=HERE.parent, check=True, timeout=300, capture_output=True)
    return json.loads(path.read_text())


@pytest.fixture(scope="module")
def verbs(tmp_path_factory) -> dict:
    return _traced("verbs", tmp_path_factory)


@pytest.fixture(scope="module")
def iterative(tmp_path_factory) -> dict:
    return _traced("iterative", tmp_path_factory)


def _passes(record: dict) -> list[dict[str, dict]]:
    by_pass: dict[str, dict[str, dict]] = {}
    for rec in record["queries"]:
        by_pass.setdefault(rec["pass"], {})[rec["query"]] = rec
    return list(by_pass.values())


def test_record_carries_every_declared_layer_metric(verbs, iterative):
    declared = {m["name"] for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())["per_layer"]}
    for record in (verbs, iterative):
        assert declared <= set(record["metrics"])


def test_construct_jobs_repeat_across_traced_passes(verbs, iterative):
    for record in (verbs, iterative):
        passes = _passes(record)
        assert len(passes) >= 2
        jobs = [{q: rec["entry.construct_jobs"] for q, rec in p.items()} for p in passes]
        assert all(j == jobs[0] for j in jobs[1:])


def test_verbs_bypass_materialize_and_python(verbs):
    for rec in verbs["queries"]:
        assert rec["session.materialize_calls"] == 0
        assert rec["catalyst.python_nodes"] == 0
        assert rec["entry.construct_jobs"] == 0


def test_iterative_wall_is_construction(iterative):
    for rec in iterative["queries"]:
        assert rec["session.materialize_calls"] > 0
        assert rec["entry.construct_jobs"] > rec["exec.jobs"]
        assert rec["entry.construct_s"] > 0.5 * rec["wall_s"]


def test_spans_account_for_each_query_wall(verbs, iterative):
    for record in (verbs, iterative):
        overhead = max(record["metrics"]["trace.overhead_frac"], 0.0)
        for rec in record["queries"]:
            gap = rec["wall_s"] - rec["entry.construct_s"] - rec["exec.s"]
            assert 0 <= gap <= max(overhead * rec["wall_s"], 0.05), rec["query"]


def test_relocate_staging_rewrites_constants_and_bodies():
    entry = types.ModuleType("fake_entry")
    exec(
        "_CSV_GATE_DIR = '/old/wh/_csv'\n"
        "def q():\n"
        "    return [f'/old/wh/t_{i}' for i in range(2)]\n",
        entry.__dict__,
    )
    run.relocate_staging(entry, "/new/wh")
    assert entry._CSV_GATE_DIR == "/new/wh/_csv"
    assert entry.q() == ["/new/wh/t_0", "/new/wh/t_1"]
