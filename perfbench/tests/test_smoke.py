"""Smoke tests of the benchmark itself, on sf0.001 data (about 5 minutes).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs once untraced and once traced in smoke mode (a warm-up
pass plus two timed passes). The tests check the output contract, that the
traced counters repeat exactly from pass to pass, the two engine defects
the counters expose today, that a run leaves the repo tree as it found it,
and that the benchmark fails cleanly without the program next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

SEED = 7
WORKLOADS = tuple(run.SF)


def _tree() -> dict[str, tuple[int, int]]:
    out = {}
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
        for f in files:
            st = os.stat(os.path.join(top, f))
            out[os.path.relpath(os.path.join(top, f), ROOT)] = (
                st.st_size, st.st_mtime_ns)
    return out


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.fixture(scope="module")
def runs():
    """(workload, trace) -> (result JSON, spans file contents or None,
    repo tree changes of that run)."""
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            before = _tree()
            p = _run(w, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            spans = None
            path = os.path.join(ROOT, ".perfbench_out",
                                f"spans-{w}-{SEED}.json")
            if trace:
                with open(path) as fh:
                    spans = json.load(fh)
                os.remove(path)
                if not os.listdir(os.path.dirname(path)):
                    os.rmdir(os.path.dirname(path))
            after = _tree()
            changed = sorted(k for k in before.keys() | after.keys()
                             if before.get(k) != after.get(k))
            last = p.stdout.strip().splitlines()[-1]
            out[w, trace] = (json.loads(last), spans, changed)
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_result_line(runs, workload, trace):
    result, _, _ = runs[workload, trace]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_nonzero(runs, workload):
    result, _, _ = runs[workload, 0]
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat_exactly(runs, workload):
    _, spans, _ = runs[workload, 1]
    counts = spans["meta"]["pass_counts"]
    assert len(counts) == run.SMOKE_PASSES
    assert counts[0] == counts[1]
    assert counts[0]["spark.jobs"] > 0
    assert counts[0]["queries.py4j_calls"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_spans_sum_to_op_wall_time(runs, workload):
    _, spans, _ = runs[workload, 1]
    for rec in spans["meta"]["ops"]:
        covered = sum(rec["layers"].values())
        assert abs(covered - rec["wall_s"]) <= 0.05 * rec["wall_s"], rec


def _engine_ops(runs, pass_no):
    _, spans, _ = runs["engine_rw", 1]
    return {r["op"]: r for r in spans["meta"]["ops"]
            if r["pass"] == pass_no}


def test_defect_serial_insert_saves_catalog_per_row(runs):
    """Catalog.nextval rewrites the catalog JSON once per inserted row,
    plus one save for the new table version: N rows -> N + 1 saves."""
    rows = min(workloads.SERIAL_ROWS, 150)  # sf0.001 has 150 customers
    for pass_no in range(run.SMOKE_PASSES + 1):
        ops = _engine_ops(runs, pass_no)
        assert ops["insert_serial"]["catalog_saves"] == rows + 1


def test_defect_dml_validation_cache_never_released(runs):
    """Each INSERT, UPDATE and upsert caches its validated batch and never
    unpersists it. From the second pass on, the INSERTs whose batch plan
    reads only the source tables reuse the first pass's cache entry."""
    first = _engine_ops(runs, 0)
    for name in ("insert_bulk", "insert_serial", "upsert",
                 "update_returning"):
        assert first[name]["cached_added"] == 1, name
    for name in ("create_lines", "delete", "select_cast", "ctas",
                 "vacuum"):
        assert first[name]["cached_added"] == 0, name
    later = _engine_ops(runs, 1)
    assert later["upsert"]["cached_added"] == 1
    assert later["update_returning"]["cached_added"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_leaves_repo_tree_unchanged(runs, workload):
    _, _, changed = runs[workload, 0]
    assert changed == []


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("registry", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
