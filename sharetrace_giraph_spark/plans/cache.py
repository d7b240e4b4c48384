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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: owner name -> the frames it holds, in the order they were held
held: dict[str, list[DataFrame]] = {}


def hold(owner: str, df: DataFrame) -> DataFrame:
    """Register ``df``, already persisted, under ``owner``; returns it."""
    held.setdefault(owner, []).append(df)
    return df


def release(owner: str | None = None) -> None:
    """Free ``owner``'s frames, or every owner's when ``owner`` is None."""
    for name in list(held) if owner is None else [owner]:
        for df in reversed(held.pop(name, [])):
            free(df)


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
