"""Multi-source BFS hop distance over the contact graph.

Same checkpointed gather-scatter skeleton as connected components
(J1 join + min aggregate + I3 active frontier): every source starts at
distance 0, every other vertex at an "unreached" sentinel; each superstep
the frontier (vertices whose distance improved last superstep) sends
``dist + 1`` to its out-neighbors and each receiver keeps the minimum.
A distance can only improve through a neighbor that itself improved, so
frontier-only messaging is exact, and the frontier IS the classic BFS
wavefront — superstep k settles exactly the vertices at hop distance k.
Halts when no distance changes (L1 of the 0/1 change indicator < 0.5),
i.e. after eccentricity(sources)+1 supersteps.

The reference has no reachability query; this is the natural extension of
its propagation loop (``compute/VariableVertexComputation.java`` relays
values along contact edges the same way) to hop-distance analytics —
"how many hops from the seed set is each actor" is the link-graph
question its risk scores approximate with decaying weights.

Determinism: min over longs — order- and tie-safe. Skew: the per-dst
min plans a partial ``min`` below the message exchange, as in
``connected_components`` (``operators/skew``).

Edges must be directed (pass ``operators.edges.undirect`` output for the
undirected contact graph).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs

#: "not reached yet" — far above any real hop count, far below long
#: overflow even after repeated +1
UNREACHED = 1 << 62


def _bfs_step(e: DataFrame, cost_col: str | None = None):
    """One frontier relaxation superstep over the co-partitioned directed
    edges ``e(src, dst[, cost_col])``: each hop costs 1, or the edge's
    ``cost_col`` (SSSP). Returns ``step(state, k) -> state``."""
    cost = F.col(cost_col) if cost_col else F.lit(1)

    def step(state: DataFrame, k: int) -> DataFrame:
        frontier = state.where(F.col("delta") > 0.5)
        # shuffle_hash: the frontier is O(V) early on — never broadcast a
        # side that grows with the graph (see connected_components.py)
        msgs = e.join(frontier.hint("shuffle_hash"), e.src == frontier.vertex_id).select(
            e.dst.alias("mdst"), (F.col("dist") + cost).alias("nd")
        )
        inc = msgs.groupBy("mdst").agg(F.min("nd").alias("min_nd"))
        new_dist = F.least("dist", F.coalesce("min_nd", "dist"))
        return state.join(inc.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left").select(
            "vertex_id",
            new_dist.alias("dist"),
            F.when(new_dist != F.col("dist"), 1.0).otherwise(0.0).alias("delta"),
        )

    return step


def _bfs_init(verts: DataFrame, sources: DataFrame) -> DataFrame:
    """Seeded state over the cached vertex universe: every source at
    distance 0 and in the first frontier, everyone else UNREACHED and
    silent until a wavefront reaches them.

    A seed set disjoint from the vertex universe (typo, id-encoding
    mismatch) raises ``ValueError``: it would otherwise give an empty
    first frontier and an instantly "converged" run with every vertex
    UNREACHED, plausible-looking and silently wrong. ``verts`` is the
    semi-join's LEFT side, which puts the source set on the build side:
    AQE broadcasts the typical handful of seeds (a probe over the cached
    verts with isEmpty's early exit), and an unbounded source cohort
    degrades to a shuffle join instead of a forced broadcast."""
    src_set = sources.select("vertex_id").distinct()
    if verts.join(src_set, "vertex_id", "left_semi").isEmpty():
        raise ValueError("source set has no vertex in the graph")
    return verts.join(src_set.withColumn("_is_src", F.lit(True)), "vertex_id", "left").select(
        "vertex_id",
        F.when(F.col("_is_src"), F.lit(0)).otherwise(F.lit(UNREACHED))
        .cast("long").alias("dist"),
        F.when(F.col("_is_src"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("delta"),
    )


def bfs(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    checkpoint_dir: str,
    run_id: str = "bfs",
    max_supersteps: int = 50,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Returns state (vertex_id, dist, delta); ``dist`` is the minimum hop
    count from any source, or :data:`UNREACHED`. Filter
    ``dist < UNREACHED`` for the reachable set."""
    inputs = loop_inputs(spark, edges.select("src", "dst"), "src", vertices)
    with inputs as (e, verts, P):
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, "bfs", P)
        return driver.run(_bfs_init(verts, sources), _bfs_step(e), max_supersteps=max_supersteps,
                          tolerance=0.5, resume=resume, checkpoint_every=checkpoint_every)
