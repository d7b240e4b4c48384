"""Async durable checkpoint writes (pipelined snapshotting).

Durable parquet snapshots are written by a background thread that
overlaps the next superstep's compute (``SuperstepDriver.
_checkpoint_carry``).  These tests pin the contract that makes that
safe:

- a failed snapshot write SURFACES (the loop must never report durable
  progress past a checkpoint that silently failed);
- when ``run`` returns, no write is in flight and every cadence
  snapshot is fully committed (``_SUCCESS``);
- the overlap changes no results vs the synchronous history (cadence
  parity is already pinned by test_checkpoint_frequency; here we pin
  snapshot CONTENT equality against an independent recompute).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from sharetrace_giraph_spark.plans.superstep import SuperstepDriver, latest_committed


def _init_state(spark, n=64):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("vertex_id"),
            F.lit(1.0).alias("value"),
            F.lit(1.0).alias("delta"),
        )
        .repartition(4, "vertex_id")
    )


def _halve_step(state, k):
    # deterministic contraction: value -> value/2, delta tracks the change
    return state.select(
        "vertex_id",
        (F.col("value") / 2).alias("value"),
        (F.col("value") / 2).alias("delta"),
    )


def test_failed_durable_write_surfaces(spark, tmp_path):
    """An exception inside the background snapshot write must fail the
    loop at the next join point, not vanish with the daemon thread."""
    drv = SuperstepDriver(
        spark, str(tmp_path), run_id="r", algorithm="halve", num_partitions=4
    )

    boom = RuntimeError("injected: snapshot metadata harvest failed")

    def _raise(*a, **kw):
        raise boom

    # the metadata harvest runs inside the background _write() try-block:
    # raising here exercises exactly the async failure-surfacing path
    drv._append_partition_metrics = _raise

    with pytest.raises(RuntimeError, match="durable checkpoint write failed"):
        drv.run(
            _init_state(spark),
            _halve_step,
            max_supersteps=4,
            tolerance=0.0,
            checkpoint_every=2,
        )
    # the failure must also leave the driver joinable/clean for reuse
    assert drv._pending_write is None
    assert drv._write_exc is None


def test_no_write_in_flight_after_run(spark, tmp_path):
    drv = SuperstepDriver(
        spark, str(tmp_path), run_id="r", algorithm="halve", num_partitions=4
    )
    res = drv.run(
        _init_state(spark),
        _halve_step,
        max_supersteps=5,
        tolerance=0.0,
        checkpoint_every=2,
    )
    assert drv._pending_write is None and drv._write_exc is None
    # every cadence snapshot fully committed: init(-1), steps 1, 3, final 4
    sdir = os.path.join(str(tmp_path), "r", "halve", "state")
    steps = sorted(
        int(d.split("=")[1]) for d in os.listdir(sdir) if d.startswith("superstep=")
    )
    assert steps == [-1, 1, 3, 4]
    for s in steps:
        assert os.path.exists(os.path.join(sdir, f"superstep={s}", "_SUCCESS"))
    assert latest_committed(str(tmp_path), "r", "halve") == 4
    assert res.supersteps_run == 5


def test_torn_snapshot_falls_back_one_cadence(spark, tmp_path):
    """A kill mid-write leaves a snapshot directory without _SUCCESS;
    resume must ignore it and continue from the previous committed
    cadence — the exact granularity the async write's contract promises."""
    drv = SuperstepDriver(
        spark, str(tmp_path), run_id="r", algorithm="halve", num_partitions=4
    )
    drv.run(
        _init_state(spark),
        _halve_step,
        max_supersteps=4,
        tolerance=0.0,
        checkpoint_every=2,
    )
    sdir = os.path.join(str(tmp_path), "r", "halve", "state")
    # simulate the kill: superstep=3's files landed but _SUCCESS never did
    os.remove(os.path.join(sdir, "superstep=3", "_SUCCESS"))
    assert latest_committed(str(tmp_path), "r", "halve") == 1

    drv2 = SuperstepDriver(
        spark, str(tmp_path), run_id="r", algorithm="halve", num_partitions=4
    )
    res = drv2.run(
        _init_state(spark),
        _halve_step,
        max_supersteps=4,
        tolerance=0.0,
        checkpoint_every=2,
        resume=True,
    )
    assert res.resumed_from == 1
    assert res.supersteps_run == 2  # re-ran exactly steps 2 and 3
    vals = {r["vertex_id"]: r["value"] for r in res.state.collect()}
    assert set(vals) == set(range(64))
    assert all(abs(v - 1.0 / 16) < 1e-15 for v in vals.values())


def test_overlapped_snapshots_content_matches_recompute(spark, tmp_path):
    """Each durable snapshot written by the background thread holds
    exactly the state the loop computed at that superstep — the overlap
    must not snapshot a later (or torn) version of the cache."""
    drv = SuperstepDriver(
        spark, str(tmp_path), run_id="r", algorithm="halve", num_partitions=4
    )
    drv.run(
        _init_state(spark),
        _halve_step,
        max_supersteps=6,
        tolerance=0.0,
        checkpoint_every=2,
    )
    for k in (1, 3, 5):
        snap = {
            r["vertex_id"]: r["value"] for r in drv.read_state(k).collect()
        }
        expect = 1.0 / (2 ** (k + 1))
        assert set(snap) == set(range(64))
        assert all(abs(v - expect) < 1e-15 for v in snap.values())


def test_snapshot_writes_carry_the_callers_job_group(spark, tmp_path):
    """The background snapshot writes run on a thread that inherits the
    caller's job group, so a run under ``setJobGroup`` launches no job
    outside that group (a job without one cannot be attributed to the
    layer that caused it)."""
    sc = spark.sparkContext
    untagged_before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("g", "superstep run")
    try:
        drv = SuperstepDriver(spark, str(tmp_path), "r", "halve", num_partitions=4)
        drv.run(_init_state(spark), _halve_step, max_supersteps=4, tolerance=0.0,
                checkpoint_every=1)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    untagged = set(sc.statusTracker().getJobIdsForGroup(None)) - untagged_before
    assert not untagged, f"jobs {sorted(untagged)} carry no job group"
    # 5 carries (init + 4 supersteps) and 5 snapshot writes at least
    assert len(sc.statusTracker().getJobIdsForGroup("g")) >= 10
