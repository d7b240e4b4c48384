"""Round-5 superstep-engine contracts.

Pins these behaviors:

- the convergence aggregates ride the checkpoint action itself
  (``observe`` piggyback) — a NON-durable superstep costs exactly ONE
  Spark job — and a dropped Observation event falls back to an exact,
  bounded agg;
- a run that converges on a non-durable superstep still ends on a
  committed snapshot of that superstep;
- a teardown join failure must not MASK a primary in-flight exception;
- ``metrics()`` returns one row per superstep even after a resume
  re-ran supersteps whose rows had already landed;
- superseded carried supersteps release their checkpoint blocks eagerly
  (``Dataset.unpersist`` alone cannot — localCheckpoint persists the
  underlying RDD directly);
- a job killed during superstep 0 resumes from the committed
  ``superstep=-1`` init snapshot.
"""

from __future__ import annotations

import os
import time

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
    return state.select(
        "vertex_id",
        (F.col("value") / 2).alias("value"),
        (F.col("value") / 2).alias("delta"),
    )


def _rows(df):
    return sorted((r.vertex_id, round(r.value, 12)) for r in df.collect())


def test_nondurable_superstep_costs_one_job(spark, tmp_path):
    """The piggybacked convergence agg (observe on the checkpoint
    action) means a non-durable superstep launches exactly ONE Spark
    job — the round-5 serial-floor cut. Count jobs across a cadence
    where supersteps 0-2 are non-durable (checkpoint_every=4,
    resume=False so there is no init snapshot)."""
    sc = spark.sparkContext
    drv = SuperstepDriver(spark, str(tmp_path), "j", "halve", num_partitions=4)
    init = _init_state(spark).localCheckpoint(eager=True)  # settle init lineage

    # count the job ids newer than the newest one before the run: the
    # tracker retains at most spark.ui.retainedJobs jobs and evicts the
    # oldest in batches, so a difference of list lengths goes negative
    # when an eviction falls inside the run
    last_before = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
    drv.run(init, _halve_step, max_supersteps=3, tolerance=0.0,
            checkpoint_every=4, resume=False)
    new_jobs = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > last_before]
    # 3 supersteps x 1 checkpoint action + the loop's own snapshot write
    # of the capped superstep 2: 4 jobs. A regression to the separate
    # per-superstep agg job would read 7.
    assert len(new_jobs) == 4, f"{len(new_jobs)} jobs"


def test_teardown_join_failure_does_not_mask_primary(spark, tmp_path):
    """If step() raises while the in-flight async snapshot write ALSO
    fails, the step's exception must propagate (the write failure is a
    warning), not be replaced by the join's RuntimeError."""
    drv = SuperstepDriver(spark, str(tmp_path), "m", "halve", num_partitions=4)

    def _fail_harvest(*a, **kw):
        raise RuntimeError("injected: background write failure")

    drv._append_partition_metrics = _fail_harvest
    primary = ValueError("injected: primary step failure")

    def step(state, k):
        if k == 2:
            # superstep 1 was durable (checkpoint_every=2): its failing
            # background write is in flight / already failed by now
            raise primary
        return _halve_step(state, k)

    with pytest.warns(RuntimeWarning, match="suppressed in favor"):
        with pytest.raises(ValueError, match="primary step failure"):
            drv.run(_init_state(spark), step, max_supersteps=5,
                    tolerance=0.0, checkpoint_every=2, resume=False)
    assert drv._pending_write is None and drv._write_exc is None


def test_metrics_dedupes_reran_supersteps(spark, tmp_path):
    """A kill between a superstep's metrics row landing and its async
    snapshot committing makes resume re-run that superstep and append a
    second row; metrics() must present ONE row per superstep (the
    latest attempt)."""
    drv = SuperstepDriver(spark, str(tmp_path), "d", "halve", num_partitions=4)
    drv.run(_init_state(spark), _halve_step, max_supersteps=4,
            tolerance=0.0, checkpoint_every=2)
    # simulate the torn window: superstep 3's snapshot never committed,
    # but its metrics row (and superstep 2's) did
    sdir = os.path.join(str(tmp_path), "d", "halve", "state")
    os.remove(os.path.join(sdir, "superstep=3", "_SUCCESS"))
    drv2 = SuperstepDriver(spark, str(tmp_path), "d", "halve", num_partitions=4)
    drv2.run(_init_state(spark), _halve_step, max_supersteps=4,
             tolerance=0.0, checkpoint_every=2)
    m = drv2.metrics().collect()
    per_step = sorted(r.superstep for r in m)
    assert per_step == [0, 1, 2, 3], per_step  # one row each, no dupes


def test_superseded_carries_release_blocks(spark, tmp_path):
    """Old supersteps' localCheckpoint blocks are freed eagerly, not
    left to driver GC + ContextCleaner."""
    sc = spark.sparkContext

    def persisted_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = persisted_rdds()
    drv = SuperstepDriver(spark, str(tmp_path), "g", "halve", num_partitions=4)
    drv.run(_init_state(spark), _halve_step, max_supersteps=6,
            tolerance=0.0, checkpoint_every=2, resume=False)
    # unpersist(blocking=False) removes blocks asynchronously — bounded wait
    deadline = time.monotonic() + 10.0
    while persisted_rdds() > base and time.monotonic() < deadline:
        time.sleep(0.1)
    assert persisted_rdds() <= base, sc._jsc.sc().getRDDStorageInfo()


def test_metrics_reads_legacy_files_without_written_at(spark, tmp_path):
    """Metrics dirs written before the written_at column existed (or a
    resumed run mixing old and new files) must read without dropping the
    legacy rows: an unguarded max/semi-join on a null written_at would
    silently lose them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    drv = SuperstepDriver(spark, str(tmp_path), "d", "halve", num_partitions=4)
    drv.run(_init_state(spark), _halve_step, max_supersteps=2,
            tolerance=0.0, checkpoint_every=1)
    mdir = os.path.join(str(tmp_path), "d", "halve", "metrics")
    # a pre-upgrade row for a superstep the new files don't have
    legacy = pa.table({
        "run_id": pa.array(["d"], pa.string()),
        "algorithm": pa.array(["halve"], pa.string()),
        "superstep": pa.array([7], pa.int32()),
        "active_vertices": pa.array([1], pa.int64()),
        "messages": pa.array([1], pa.int64()),
        "l1_delta": pa.array([0.5], pa.float64()),
        "wall_ms": pa.array([10], pa.int64()),
        "num_partitions": pa.array([4], pa.int32()),
    })
    pq.write_table(legacy, os.path.join(mdir, "superstep-7-legacy.parquet"))
    rows = {r.superstep: r for r in drv.metrics().collect()}
    assert sorted(rows) == [0, 1, 7], sorted(rows)  # legacy row survives
    # and a legacy duplicate of a re-run superstep loses the tie
    legacy0 = legacy.set_column(
        2, "superstep", pa.array([0], pa.int32())
    ).set_column(4, "messages", pa.array([999], pa.int64()))
    pq.write_table(legacy0, os.path.join(mdir, "superstep-0-legacy.parquet"))
    rows = {r.superstep: r for r in drv.metrics().collect()}
    assert rows[0].messages != 999  # the new attempt's row wins


def test_initial_checkpoint_is_resumable(spark, tmp_path):
    """A job killed DURING superstep 0 must resume from the committed
    ``superstep=-1`` init snapshot — not silently re-derive the initial
    state (regression: the checkpoint-dir regex rejected the minus sign,
    so ``latest_committed`` never saw the -1 snapshot and the documented
    'killed in superstep 0 still resumes deterministically' guarantee
    was dead code)."""
    drv = SuperstepDriver(spark, str(tmp_path), "i", "halve", num_partitions=4)

    def dying_step(state, k):
        raise RuntimeError("injected: killed during superstep 0")

    with pytest.raises(RuntimeError, match="superstep 0"):
        drv.run(_init_state(spark), dying_step, max_supersteps=3, tolerance=0.0)
    assert latest_committed(str(tmp_path), "i", "halve") == -1
    # resume must read the committed init — a DIFFERENT init frame passed
    # on re-invoke (think: re-sampled seeds, a moved now() cutoff) must
    # not leak into the result
    drv2 = SuperstepDriver(spark, str(tmp_path), "i", "halve", num_partitions=4)
    poisoned = _init_state(spark).select(
        "vertex_id", (F.col("value") * 100).alias("value"), "delta"
    )
    res = drv2.run(poisoned, _halve_step, max_supersteps=3, tolerance=0.0)
    assert res.resumed_from == -1
    assert _rows(res.state) == [(i, round(2.0 ** -3, 12)) for i in range(64)]


def test_convergence_agg_fallback_is_bounded(spark, tmp_path, monkeypatch):
    """The convergence aggregates must survive a dropped Observation
    event (async listener bus under pressure): the bounded wait falls
    back to a direct agg over the carried rows instead of hanging
    forever on obs.get — and that agg is exact."""
    import sharetrace_giraph_spark.plans.superstep as ss

    monkeypatch.setattr(ss, "_OBSERVE_TIMEOUT_S", 0.0)  # force the fallback
    drv = SuperstepDriver(spark, str(tmp_path), "d", "halve", num_partitions=4)
    res = drv.run(_init_state(spark), _halve_step, max_supersteps=3,
                  tolerance=0.0, checkpoint_every=2, resume=False)
    m = {r.superstep: r for r in drv.metrics().collect()}
    assert res.supersteps_run == 3
    assert [m[k].messages for k in (0, 1, 2)] == [64, 64, 64]
    assert m[0].l1_delta == 32.0  # 64 vertices x |1 - 1/2|


def test_convergence_on_nondurable_superstep_is_written(spark, tmp_path):
    """A run that converges between cadence slots must still end on a
    committed snapshot of the converged superstep (the loop writes it
    itself), and hand back that snapshot with no write in flight."""
    drv = SuperstepDriver(spark, str(tmp_path), "c", "halve", num_partitions=4)
    # l1 at superstep k is 64 * 2^-(k+1): the first below tolerance is k=2
    res = drv.run(_init_state(spark), _halve_step, max_supersteps=10,
                  tolerance=64 * 2.0 ** -3 + 1e-9, checkpoint_every=4)
    assert res.converged
    assert res.final_superstep == 2
    sdir = os.path.join(str(tmp_path), "c", "halve", "state")
    steps = sorted(
        int(d.split("=")[1]) for d in os.listdir(sdir) if d.startswith("superstep=")
    )
    assert steps == [-1, 2]
    assert latest_committed(str(tmp_path), "c", "halve") == 2
    assert _rows(res.state) == [(i, round(2.0 ** -3, 12)) for i in range(64)]
    assert drv._pending_write is None


def test_fallback_agg_is_counted(spark, tmp_path, monkeypatch):
    """Every metrics row says where its convergence aggregates came from:
    the observed carry (``agg_fallback`` false) or the fallback agg. With
    the observe wait at 0 every row shows the fallback, and the results
    and metrics are those of an observed run."""
    import sharetrace_giraph_spark.plans.superstep as ss

    def run(run_id):
        drv = SuperstepDriver(spark, str(tmp_path), run_id, "halve", num_partitions=4)
        res = drv.run(_init_state(spark), _halve_step, max_supersteps=3,
                      tolerance=0.0, checkpoint_every=2, resume=False)
        rows = sorted(drv.metrics().collect(), key=lambda r: r.superstep)
        return res, rows

    observed, observed_rows = run("o")
    monkeypatch.setattr(ss, "_OBSERVE_TIMEOUT_S", 0.0)
    fallback, fallback_rows = run("f")
    assert [r.agg_fallback for r in fallback_rows] == [True, True, True]
    assert not any(r.agg_fallback for r in observed_rows)
    assert _rows(fallback.state) == _rows(observed.state)
    assert fallback.l1_delta == observed.l1_delta
    assert [(r.active_vertices, r.messages, r.l1_delta) for r in fallback_rows] == [
        (r.active_vertices, r.messages, r.l1_delta) for r in observed_rows
    ]
