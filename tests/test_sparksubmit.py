"""Ship-shape smoke: the north rule requires the engine to run via
``spark-submit --py-files`` (the multi-executor deploy form — reference
analog: the EMR steps in ``java/steps-main.json``). This drives the real
``spark-submit`` binary as a subprocess with a freshly built package zip,
so a packaging regression (missing module in the zip, import that only
works from the repo root, argparse drift) fails CI instead of the first
cluster deploy."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles_smoke(tmp_path):
    # build the zip from current sources with the deploy's own builder,
    # into tmp_path so the run never rewrites the tracked dist/ artifact
    pyfiles = str(tmp_path / "sharetrace_giraph_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles_zip.py"), pyfiles],
        check=True, capture_output=True,
    )
    # the builder is reproducible, so the tracked deploy artifact must
    # match a fresh build member for member: a stale dist/ zip fails here
    with zipfile.ZipFile(pyfiles) as fresh, zipfile.ZipFile(
        os.path.join(REPO, "dist", "sharetrace_giraph_spark.zip")
    ) as tracked:
        stale = "dist/ zip is stale: rerun scripts/make_pyfiles_zip.py"
        assert tracked.namelist() == fresh.namelist(), stale
        for name in fresh.namelist():
            assert tracked.read(name) == fresh.read(name), f"{stale} ({name})"
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", pyfiles,
            os.path.join(REPO, "jobs", "run_graph.py"),
            "--synthetic-convs", "40",
            "--algorithm", "sssp",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--output", out_dir,
            "--max-supersteps", "30",
        ],
        env=env, capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo root: the zip must be self-sufficient
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the job prints one JSON status line
    status = None
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            status = json.loads(line)
    assert status is not None, proc.stdout[-2000:]
    assert status["algorithm"] == "sssp"
    assert status["converged"] and status["rows"] > 0
    # and writes the per-vertex result parquet
    import duckdb

    n, dmin = duckdb.sql(
        f"SELECT count(*), min(dist) FROM '{out_dir}/*.parquet'"
    ).fetchone()
    assert n == status["rows"] and dmin == 0
