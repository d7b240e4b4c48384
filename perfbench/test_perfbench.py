"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark (about a minute each); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import Job, Span, covered, self_time  # noqa: E402
from workloads import WORKLOADS, frames_equal, generate_events  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5  # [1,5] + [7,8]
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3  # clipped to the span
    assert covered((0, 10), [(2, 8), (3, 4)]) == 6  # nested
    assert covered((0, 10), [(11, 12), (-3, -1)]) == 0  # outside


def test_self_time_is_duration_minus_child_cover():
    assert self_time((0, 10), [(1, 3), (2, 5)]) == 6
    assert self_time((5, 6), [(0, 100)]) == 0
    assert self_time((0, 4), []) == 4


def test_span_driver_time_excludes_job_time():
    sp = Span("edges.vertex_ids", "r001", start=100.0, end=110.0)
    sp.jobs = [Job(1, "g", 101.0, 104.0, cpu_s=2.0, tasks=4),
               Job(2, None, 103.0, 106.0, cpu_s=1.0, shuffle_write=2 * 1024 * 1024, tasks=2)]
    m = sp.metrics()
    assert m["wall_s"] == 10.0
    assert m["driver_s"] == 5.0  # jobs cover [101, 106]
    assert m["cpu_s"] == 3.0
    assert m["shuffle_write_mb"] == 2.0
    assert m["tasks"] == 6 and m["jobs"] == 2


def _vertices():
    return pd.DataFrame({
        "vertex_id": np.arange(4, dtype="int64"),
        "rank": [0.1, 0.2, 0.3, 0.4],
        "comp": np.zeros(4, dtype="int64"),
    })


def test_checker_accepts_reordered_and_tolerated_output():
    good = _vertices()
    got = good.iloc[::-1].copy()
    got["rank"] = got["rank"] + 5e-7
    assert frames_equal(good, got, ["vertex_id"], atol={"rank": 1e-6}) is None


@pytest.mark.parametrize("corrupt", ["rank", "comp", "drop_row", "rename"])
def test_checker_rejects_corrupted_output(corrupt):
    good = _vertices()
    bad = good.copy()
    if corrupt == "rank":
        bad.loc[2, "rank"] += 2e-6
    elif corrupt == "comp":
        bad.loc[3, "comp"] = 1
    elif corrupt == "drop_row":
        bad = bad.iloc[:3]
    else:
        bad = bad.rename(columns={"comp": "component"})
    assert frames_equal(good, bad, ["vertex_id"], atol={"rank": 1e-6}) is not None


def test_inputs_follow_the_seed():
    a, b, c = (generate_events(500, 20, s) for s in (7, 7, 8))
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "risk_bp", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke_run(workload, tmp_path):
    """A traced run on a tiny input passes its checks and reports every
    per-layer metric."""
    for name in ("sharetrace_giraph_spark", "tests"):
        shutil.copytree(os.path.join(ROOT, name), tmp_path / name,
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert set(out["metrics"]) == {name for name, _ in run.PER_LAYER}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["setup.first_run_s"] > 0 and m["trace.overhead_ratio"] > 0
    assert m["trace.runs"] >= 1 and m["superstep.edge_steps_per_s"] > 0
    assert m["edges.derive_contacts.wall_s"] > 0 and m["sources.write_table.jobs"] > 0
    assert m["edges.candidate_pairs"] >= m["edges.occurrences"] > 0
    spans = (tmp_path / ".perfbench_work" / f"spans-{workload}-3.jsonl").read_text().splitlines()
    records = [json.loads(line) for line in spans]
    roots = {r["run_id"] for r in records if r["name"] == "run" and r["parent"] is None}
    assert roots and all(r["parent"] == "run" and r["run_id"] in roots
                         for r in records if r["name"] != "run")
