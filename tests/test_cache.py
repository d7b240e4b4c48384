"""The held-frame cache lifetime (``plans/cache``): ``free`` releases both
kinds of cached frame, ``release`` frees one owner or all, the driver
contract leaves no storage memory behind between queries, and an
iterative run frees its loop inputs when it ends, also on error."""

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
    """An iterative run frees its cached loop inputs and its carried state
    when it ends, also when it is killed mid-loop: the persisted-RDD count
    returns to its baseline. Each case runs on a graph of its own seed:
    ``persist()`` of a plan that an earlier test already cached is a
    no-op, which would hide a leaked frame."""
    from sharetrace_giraph_spark import datagen

    canon = datagen.generate_edges(spark, 500, 80, seed=seed, num_partitions=2)
    und = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
    verts = canon.selectExpr("src AS vertex_id").union(
        canon.selectExpr("dst AS vertex_id")
    ).distinct()
    base = _rdds(spark)
    run(spark, canon, und, verts, str(tmp_path))
    assert _until(lambda: _rdds(spark) <= base), (
        f"{_rdds(spark) - base} persisted RDDs left behind"
    )
