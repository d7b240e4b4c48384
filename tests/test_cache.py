"""The held-frame cache lifetime (``plans/cache``): ``free`` releases both
kinds of cached frame, ``release`` frees one owner or all, the driver
contract leaves no storage memory behind between queries, an iterative
run frees its carried state when it ends, also on error, and the loop
inputs are held for one graph at a time, matched by frame identity."""

from __future__ import annotations

import gc
import os
import time

import pytest

import __spark_entry__ as entry_mod
from tests.test_entry_oracle import SF_DIR as ORACLE_SF_DIR

#: the smallest scale factor, next to the oracle test's data
SF_DIR = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.001")


def _rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _until(cond, timeout_s: float = 10.0) -> bool:
    """Poll ``cond`` for at most ``timeout_s``: block removal after
    ``unpersist(blocking=False)`` and ContextCleaner work are async."""
    deadline = time.monotonic() + timeout_s
    while not cond() and time.monotonic() < deadline:
        time.sleep(0.1)
    return cond()


def test_free_releases_persisted_and_checkpointed_blocks(spark):
    """``free`` unpersists a CacheManager entry, and the RDD behind a
    ``localCheckpoint`` frame's ``LogicalRDD`` (which ``unpersist()``
    alone would leave to the ContextCleaner)."""
    from sharetrace_giraph_spark.plans import cache

    base = _rdds(spark)
    persisted = spark.range(1000).persist()
    persisted.count()
    checkpointed = spark.range(1000).localCheckpoint(eager=True)
    assert _rdds(spark) == base + 2

    cache.free(persisted)
    assert _until(lambda: _rdds(spark) == base + 1), _rdds(spark)
    cache.free(checkpointed)
    assert _until(lambda: _rdds(spark) == base), _rdds(spark)


def test_release_frees_one_owner_or_all(spark):
    from sharetrace_giraph_spark.plans import cache

    # frames an earlier test left held would be freed by the release()
    # below and miscount against this baseline
    cache.release()
    base = _rdds(spark)
    a = cache.hold("test.a", spark.range(10).persist())
    b = cache.hold("test.b", spark.range(20).localCheckpoint(eager=True))
    a.count()
    assert _rdds(spark) == base + 2

    cache.release("test.a")
    assert "test.a" not in cache.held and cache.held["test.b"] == [b]
    assert _until(lambda: _rdds(spark) == base + 1), _rdds(spark)
    cache.release()
    assert cache.held == {}
    assert _until(lambda: _rdds(spark) == base), _rdds(spark)


def test_driver_queries_leave_no_storage_behind(spark):
    """A graph query followed by a plain SQL query, as the driver runs
    them: once both results are collected and garbage is collected, no
    persisted RDD is left and storage memory is back at its baseline.

    Without the per-query ``release()`` the triangle intermediates stay
    held, and their cached plans pin 9 broadcast hash relations (~100 MB
    here, with 6 extra RDDs) through the unrelated ``semi_join``.
    Storage is read from the block manager's own memory
    manager (``SparkEnv.memoryManager.storageMemoryUsed``), never the
    status store's executor ``memoryUsed``: that counter is fed by
    listener events, does not follow the block manager, and kept
    reading over 13 MB after ``clearCache()`` had emptied real
    storage."""
    sc = spark.sparkContext
    memory = sc._jsc.sc().env().memoryManager()

    def collect_garbage() -> None:
        gc.collect()
        sc._jvm.System.gc()

    def storage_mb() -> float:
        return memory.storageMemoryUsed() / 1e6

    collect_garbage()
    time.sleep(1.0)
    base_rdds, base_mb = _rdds(spark), storage_mb()

    qs = entry_mod.queries()
    assert qs["graph_triangles"](spark, SF_DIR).collect()
    assert qs["semi_join"](spark, SF_DIR).collect()

    def settled() -> bool:
        collect_garbage()
        return _rdds(spark) <= base_rdds and storage_mb() <= base_mb + 4.0

    assert _until(settled, timeout_s=15.0), (
        f"{_rdds(spark)} RDDs (baseline {base_rdds}), "
        f"{storage_mb():.1f} MB storage (baseline {base_mb:.1f} MB)"
    )


class _Killed(Exception):
    pass


def _walks(spark, canon, und, verts, ckpt):
    from sharetrace_giraph_spark.algorithms import random_walks

    random_walks(spark, canon, ckpt, run_id="walks")


def _neighborhood(spark, canon, und, verts, ckpt):
    from sharetrace_giraph_spark.algorithms import neighborhood_function

    neighborhood_function(spark, und, verts, 2, ckpt, run_id="anf")


def _killed_pagerank(spark, canon, und, verts, ckpt):
    """A PageRank run killed in superstep 2 (the ``killing_run`` pattern
    of ``test_checkpoint_resume``)."""
    from sharetrace_giraph_spark.algorithms import pagerank
    from sharetrace_giraph_spark.plans.superstep import SuperstepDriver

    orig_run = SuperstepDriver.run

    def killing_run(self, init_state, step, **kw):
        def killing_step(state, k):
            if k == 2:
                raise _Killed()
            return step(state, k)

        return orig_run(self, init_state, killing_step, **kw)

    SuperstepDriver.run = killing_run
    try:
        with pytest.raises(_Killed):
            pagerank(spark, und, verts, ckpt, run_id="killed", max_supersteps=10)
    finally:
        SuperstepDriver.run = orig_run


@pytest.mark.parametrize(
    "seed, run",
    [(7001, _walks), (7002, _neighborhood), (7003, _killed_pagerank)],
    ids=["random_walks", "neighborhood_function", "pagerank_killed"],
)
def test_iterative_run_leaves_no_persisted_rdd(spark, tmp_path, seed, run):
    """An iterative run frees its carried state when it ends, also when
    it is killed mid-loop: only its held loop inputs outlive it, and
    ``release()`` returns the persisted-RDD count to its baseline. Each
    case runs on a graph of its own seed: ``persist()`` of a plan that an
    earlier test already cached is a no-op, which would hide a leaked
    frame."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.plans import cache
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS

    canon = datagen.generate_edges(spark, 500, 80, seed=seed, num_partitions=2)
    und = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
    verts = canon.selectExpr("src AS vertex_id").union(
        canon.selectExpr("dst AS vertex_id")
    ).distinct()
    cache.release()
    base = _rdds(spark)
    run(spark, canon, und, verts, str(tmp_path))
    inputs = len(cache.held[LOOP_INPUTS])
    assert _until(lambda: _rdds(spark) <= base + inputs), (
        f"{_rdds(spark) - base - inputs} persisted RDDs left behind"
    )
    cache.release()
    assert _until(lambda: _rdds(spark) <= base), (
        f"{_rdds(spark) - base} persisted RDDs left after release()"
    )


def _graph(spark, seed):
    """A generated graph directed both ways and its vertex set."""
    from sharetrace_giraph_spark import datagen

    canon = datagen.generate_edges(spark, 300, 60, seed=seed, num_partitions=2)
    und = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
    return und, und.selectExpr("src AS vertex_id").distinct()


def _persisted_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _jobs_in_group(spark, group: str, fn):
    """``fn()`` run under job group ``group``; returns its result and the
    ids of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_loop_inputs_held_for_the_same_frames(spark):
    """A second ``loop_inputs`` call on the same frames, columns, key and
    width returns the held copies and launches no Spark job."""
    from sharetrace_giraph_spark.plans import cache
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS, loop_inputs

    cache.release()
    und, verts = _graph(spark, 8101)
    e, v, P = loop_inputs(spark, und, ("src", "dst"), "src", verts)
    again, jobs = _jobs_in_group(
        spark, "loop-inputs-hit", lambda: loop_inputs(spark, und, ("src", "dst"), "src", verts)
    )
    assert again[0] is e and again[1] is v and again[2] == P
    assert not jobs, f"a held graph launched jobs {jobs}"
    assert cache.held[LOOP_INPUTS] == [e, v]
    # another key or width is another request
    assert loop_inputs(spark, und, ("src", "dst"), "dst", verts)[0] is not e
    cache.release()


def test_loop_inputs_hold_one_graph(spark):
    """A call on another graph frees the first graph's copies before it
    builds its own: none of their persisted RDDs is left, and only the
    second graph's copies are held. ``release()`` leaves none."""
    from sharetrace_giraph_spark.plans import cache
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS, loop_inputs

    cache.release()
    base = _persisted_ids(spark)
    und_a, verts_a = _graph(spark, 8201)
    loop_inputs(spark, und_a, ("src", "dst"), "src", verts_a)
    ids_a = _persisted_ids(spark) - base
    assert len(ids_a) == 2, ids_a
    und_b, verts_b = _graph(spark, 8202)
    e_b, v_b, _ = loop_inputs(spark, und_b, ("src", "dst"), "src", verts_b)
    assert not ids_a & _persisted_ids(spark), "the first graph's copies are still persisted"
    assert cache.held[LOOP_INPUTS] == [e_b, v_b]
    assert len(_persisted_ids(spark) - base) == 2
    cache.release()
    assert LOOP_INPUTS not in cache.held and LOOP_INPUTS not in cache.built
    assert not _persisted_ids(spark) - base


def test_loop_inputs_rebuilt_after_release(spark):
    """After ``release()`` the same frames are rebuilt, never served
    freed, and the copies hold the same rows."""
    from sharetrace_giraph_spark.plans import cache
    from sharetrace_giraph_spark.plans.superstep import loop_inputs

    cache.release()
    und, verts = _graph(spark, 8301)
    e, v, P = loop_inputs(spark, und, ("src", "dst"), "src", verts)
    rows = sorted(e.collect()), sorted(v.collect())
    cache.release()
    e2, v2, P2 = loop_inputs(spark, und, ("src", "dst"), "src", verts)
    assert e2 is not e and v2 is not v and P2 == P
    assert e2.is_cached and v2.is_cached
    assert (sorted(e2.collect()), sorted(v2.collect())) == rows
    cache.release()


def test_loop_inputs_match_frames_not_plans(spark, tmp_path):
    """Two reads of one parquet path have the same plan but are two
    frames: the file may be rewritten between them, so the second read
    is rebuilt from the new file, not served the first read's copy."""
    from sharetrace_giraph_spark.plans import cache
    from sharetrace_giraph_spark.plans.superstep import loop_inputs

    cache.release()
    path = str(tmp_path / "edges")
    old, new = [(0, 1), (1, 0)], [(2, 3), (3, 2), (3, 4)]
    spark.createDataFrame(old, "src long, dst long").write.parquet(path)
    e, _, _ = loop_inputs(spark, spark.read.parquet(path), ("src", "dst"), "src")
    assert sorted(map(tuple, e.collect())) == old
    spark.createDataFrame(new, "src long, dst long").write.mode("overwrite").parquet(path)
    e2, _, _ = loop_inputs(spark, spark.read.parquet(path), ("src", "dst"), "src")
    assert e2 is not e
    assert sorted(map(tuple, e2.collect())) == new
    cache.release()


def test_triangle_closing_join_plans_one_way(spark):
    """Eight ``triangle_list`` calls on the same edges in one session plan
    the closing-edge join (wedges ⋈ oriented edges on ``(b, c)``) one way
    and shuffle the same bytes: the held oriented table is materialized
    before that join is planned, so AQE sizes it from exact statistics
    instead of from whichever query stage finishes first."""
    import re

    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.algorithms.triangle_count import triangle_list
    from sharetrace_giraph_spark.operators import edges as E
    from sharetrace_giraph_spark.plans import cache

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    t = datagen.generate_transcripts(
        spark, n_convs=100, turns_per_conv=12, n_actors=30,
        n_communities=3, n_hubs=1, seed=13,
    )
    contacts = E.derive_contacts(t).persist()
    enc = E.encode_edges(contacts, E.vertex_ids(contacts))

    def counted():
        tri = triangle_list(enc)
        tri.count()
        return tri

    plans, shuffled = set(), set()
    try:
        for i in range(8):
            tri, jobs = _jobs_in_group(spark, f"closing-join-{i}", counted)
            plan = tri._jdf.queryExecution().executedPlan().toString()
            closing = [re.sub(r"#\d+", "", j) for j in re.findall(r"\w+Join \[b#.*", plan)]
            assert closing, plan
            plans.add(tuple(closing))
            total = 0
            for jid in jobs:
                stages = store.job(jid).stageIds()
                for k in range(stages.size()):
                    total += store.lastStageAttempt(int(stages.apply(k))).shuffleWriteBytes()
            shuffled.add(total)
    finally:
        cache.release()
        contacts.unpersist()
    assert len(plans) == 1, plans
    assert len(shuffled) == 1, shuffled
