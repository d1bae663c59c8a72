"""Smoke runs of every workload through the real command (about a minute
each): the result line has the contract's keys, every metric of
BENCHMARK.json, and no failed operation."""

import json
import os
import subprocess
import sys

import pytest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_end_to_end_run(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    res = _run(workload, 1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["exec.tasks"] >= m["exec.stages"] > 0
    assert m["catalog.load_table_calls"] > 0
    if workload == "corpus_daily":
        assert m["pipelines.increment_jobs"] > 0 and m["sinks.write_s"] > 0
        assert m["registry.memo_builds"] == 0 and m["sinks.files_written"] > 0
    else:
        assert m["registry.memo_builds"] > 0 and 0 < m["registry.memo_reuse_ratio"] < 1
        assert m["exec.python_stages"] > 0 and m["sinks.files_written"] == 0


def test_refuses_a_tree_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "gen.py", "stats.py"):
        (bench / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
