"""Held frames: the engine's one cache lifetime.

A module that persists a frame for its own reuse holds it under an owner
name. Each owner frees its previous frames when it runs again, and the
driver contract (``__spark_entry__.queries``) frees every owner before
each query: the reference's static-graph cache (``STATIC_GRAPH=true``),
freed when its job ends. Freeing also drops the broadcast hash relations
a cached plan keeps alive (about 100 MB behind one held triangle table at
sf0.001). A freed frame evaluated again stays correct: its lineage
recomputes, uncached. Frames with no lineage (``dense_ids``) are never
held, since an earlier result built on one would then fail; the
ContextCleaner frees them when they are dropped.

An owner whose frames are worth reusing across calls also records what
they were built from (``remember``), and a later call on the same inputs
gets them back (``recall``): the iterative algorithms' loop inputs
(``plans.superstep.LOOP_INPUTS``, one graph at a time) work this way.
Frames in that record match by identity only. Two reads of one parquet
path are two inputs, since the file may change between them, and a
plan-equality match (Spark's CacheManager lookup) would serve the first
read's copy to the second. Releasing an owner drops its record too, so
freed frames are never recalled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: owner name -> the frames it holds, in the order they were held
held: dict[str, list[DataFrame]] = {}
#: owner name -> (inputs, value): what its frames were built from, and
#: what the owner built from them
built: dict[str, tuple[tuple, object]] = {}


def hold(owner: str, df: DataFrame) -> DataFrame:
    """Register ``df``, already persisted, under ``owner``; returns it."""
    held.setdefault(owner, []).append(df)
    return df


def release(owner: str | None = None) -> None:
    """Free ``owner``'s frames, or every owner's when ``owner`` is None."""
    for name in [*held, *built] if owner is None else [owner]:
        built.pop(name, None)
        for df in reversed(held.pop(name, [])):
            free(df)


def remember(owner: str, inputs: tuple, value: object) -> object:
    """Record that ``owner``'s held frames, and ``value``, were built
    from ``inputs``; returns ``value``."""
    built[owner] = (inputs, value)
    return value


def recall(owner: str, inputs: tuple) -> object | None:
    """The value :func:`remember` recorded for ``owner`` if it was built
    from ``inputs`` and not released since, else None. A DataFrame in
    ``inputs`` matches only the very same object; anything else matches
    by value."""
    got = built.get(owner)
    if got is None or len(got[0]) != len(inputs):
        return None
    same = all(
        a is b if isinstance(a, DataFrame) or isinstance(b, DataFrame) else a == b
        for a, b in zip(got[0], inputs)
    )
    return got[1] if same else None


def free(df: DataFrame) -> None:
    """Free ``df``'s blocks now: the CacheManager entry of a persisted
    frame, or the RDD behind a ``localCheckpoint`` frame's ``LogicalRDD``
    (``unpersist()`` only evicts CacheManager entries, so those blocks
    would wait for driver GC and the ContextCleaner)."""
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()
