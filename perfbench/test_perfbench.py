"""Self-tests of the benchmark at sf0.001 (each workload at its minimum
length: one pass).  Run from the repository root:

    python3 -m pytest perfbench -q

They start several Spark sessions, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

import checks
import datagen
import procstat
import run
from helper import Helper

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
WORKLOADS = ["custom_query_oneshot", "incremental_tick", "llm_dedup_search"]


def bench(*args: str, cwd: Path = HERE.parent) -> tuple[int, list[str]]:
    out = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--seed", "3", "--seconds", "0",
         "--sf", "0.001", "--setups", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return out.returncode, [line for line in out.stdout.splitlines() if line.startswith("{")]


def result(*args: str) -> tuple[dict, dict]:
    """(detail line, result line) of one run."""
    code, lines = bench(*args)
    assert code == 0
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_present_and_correct(workload):
    detail, r = result("--workload", workload, "--trace", "0")
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert set(detail["end_to_end"]) == set(run.END_TO_END) >= set(want)
    assert all(v["value"] > 0 for v in detail["end_to_end"].values())
    assert detail["provenance"]["heap_below_validated_floor"] in (True, False)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload, tmp_path):
    spans_path = tmp_path / "spans.json"
    _, r = result("--workload", workload, "--trace", "1", "--spans", str(spans_path))
    assert r["correct"] is True
    spans = json.loads(spans_path.read_text())
    ops = [s for s in spans["spans"] if s["name"] == "op"]
    assert ops and all(s["parent"] is None and s["end"] >= s["start"] for s in ops)
    assert all(s["parent"] is not None for s in spans["spans"] if s["name"] != "op")
    assert spans["self_s"]["op"] >= 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    if workload == "incremental_tick":
        assert m["extract.rows"] > m["load.rows_written"] > 0
        assert m["load.boundary_rows_absorbed"] > 0
        assert m["extract.extract_s"] > 0 and m["state.commit_s"] > 0
    else:
        assert m["operators.build_s"] > 0 and m["exec.jobs"] > 0


def test_counts_repeat_for_one_seed():
    counts = ("exec.jobs", "exec.stages", "exec.tasks", "extract.jobs", "extract.rows",
              "load.rows_written", "load.files_written", "load.boundary_rows_absorbed")
    runs = [result("--workload", "incremental_tick", "--trace", "1")[1]["metrics"] for _ in range(2)]
    assert [{k: m[k]["value"] for k in counts} for m in runs] == [
        {k: runs[0][k]["value"] for k in counts}
    ] * 2


def test_setup_is_the_median_of_several():
    detail, r = result("--workload", "incremental_tick", "--setups", "3")
    setups = detail["setups_s"]
    assert len(setups) == 3
    assert r["metrics"]["setup_s"]["value"] == sorted(setups)[1]


def test_dropped_destination_row_is_a_failed_tick():
    _, r = result("--workload", "incremental_tick", "--inject", "drop_destination_row")
    assert r["correct"] is False and r["failed"] >= 1


def test_wrong_query_result_is_a_failed_op():
    _, r = result("--workload", "custom_query_oneshot", "--inject", "wrong_query_result")
    assert r["correct"] is False and r["failed"] == 1


def test_leaves_no_process_running():
    # A parent that adopts orphans sees every process the run leaves behind.
    script = (
        "import ctypes, os, subprocess, sys\n"
        "import procstat\n"
        "ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)\n"
        "subprocess.run(sys.argv[1:], capture_output=True, check=True)\n"
        "print(len(procstat.children(os.getpid())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, sys.executable, "perfbench/run.py", "--workload",
         "llm_dedup_search", "--seed", "3", "--seconds", "0", "--sf", "0.001", "--setups", "2"],
        cwd=HERE.parent, env={**os.environ, "PYTHONPATH": str(HERE)},
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["0"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("--workload", WORKLOADS[0], cwd=tmp_path)
    assert code != 0 and not lines


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0, 5.0, 2.0]) == (100.0, 5.0)
    pct, value = run.tail([float(i) for i in range(1, 201)])
    assert pct == 95.0 and value == 190.0


def test_value_hash_ignores_order_and_int_width():
    a = pa.table({"k": pa.array([1, 2], pa.int32()), "x": [0.1 + 0.2, -0.0]})
    b = pa.table({"x": [0.0, 0.3], "k": pa.array([2, 1], pa.int64())})
    assert checks.compare(a, b) is None
    assert checks.compare(a, b.slice(1)) is not None
    assert checks.compare(a, pa.table({"k": [1, 2], "x": [0.3, 0.1]})) is not None


def test_near_duplicate_graph_is_deep_and_seed_independent():
    def edges(seed):
        docs = datagen.generate(seed, 0.001, ("documents",))["documents"]
        toks = [set(t.split()) for t in docs.column("text").to_pylist()]
        return {(a, b) for a in range(len(toks)) for b in range(a + 1, len(toks))
                if len(toks[a] & toks[b]) / len(toks[a] | toks[b]) >= 0.9}

    e = edges(1)
    n_chains = datagen.N_DOCUMENTS // datagen.CHAIN
    assert len(e) == n_chains * (datagen.CHAIN - 1)  # paths: neighbours only
    assert e == edges(2)


def test_helper_is_not_counted_as_the_engine():
    helper = Helper()
    try:
        assert helper.call("time_oracle", "SELECT 1") >= 0
        assert helper.pid in procstat._tree(os.getpid())
        assert helper.pid not in procstat.engine_pids(None)
    finally:
        helper.close()
    assert not helper.proc.is_alive()
