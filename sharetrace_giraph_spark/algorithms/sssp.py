"""Weighted single-source shortest paths over the contact graph.

SSSP is THE canonical Pregel computation (the example in Malewicz et
al.'s Pregel paper, which Giraph implements — the reference engine's
``compute/VariableVertexComputation.java`` relays values along contact
edges with exactly this skeleton: receive, fold with min/max, re-send on
improvement). The reference has no shortest-path query; this is its
propagation loop applied to additive costs instead of multiplicative
risk decay.

Same checkpointed gather-scatter skeleton as :mod:`.bfs` (J1 join + min
aggregate + I3 active frontier), generalized to per-edge costs: each
superstep the frontier (vertices whose distance improved last superstep)
sends ``dist + w`` along out-edges and each receiver keeps the minimum.
Synchronous frontier relaxation computes the same per-round values as
full Bellman-Ford relaxation (a non-improved vertex's contribution was
already folded in an earlier round; min is idempotent), so after k
supersteps ``dist`` is the min-cost path using <= k edges — which lets a
SQL oracle replay the loop as k unrolled relaxation CTEs.

Determinism: weights are LONGS (the driver queries use total co-presence
duration_ms + 1), so min-plus arithmetic is exact — no float summation
order issues. Skew: the per-dst min plans a partial ``min`` below the
message exchange, as in :mod:`.bfs` (``operators/skew``).

Edges must be directed (pass ``operators.edges.undirect`` output for the
undirected contact graph) with a positive long ``weight_col``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs
from .bfs import _bfs_init, _bfs_step


def _sssp_step(e: DataFrame):
    """BFS's frontier relaxation with the per-edge long cost ``w`` of the
    co-partitioned edges ``e(src, dst, w)``; returns
    ``step(state, k) -> state``."""
    return _bfs_step(e, "w")


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    checkpoint_dir: str,
    run_id: str = "sssp",
    weight_col: str = "w",
    max_supersteps: int = 50,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Returns state (vertex_id, dist, delta); ``dist`` is the minimum
    path cost (sum of long weights) from any source, or
    :data:`~sharetrace_giraph_spark.algorithms.bfs.UNREACHED`. Filter
    ``dist < UNREACHED`` for the reachable set."""
    weighted = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    with loop_inputs(spark, weighted, "src", vertices) as (e, verts, P):
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, "sssp", P)
        return driver.run(_bfs_init(verts, sources), _sssp_step(e), max_supersteps=max_supersteps,
                          tolerance=0.5, resume=resume, checkpoint_every=checkpoint_every)
