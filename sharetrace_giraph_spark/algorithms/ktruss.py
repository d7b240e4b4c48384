"""k-truss decomposition (fixed k): iterative edge peeling under the
checkpointed superstep driver.

The k-truss is the maximal subgraph in which every EDGE participates in
at least k-2 triangles (its *support*); it is reached by repeatedly
deleting edges below that support (each deletion can break neighbors'
triangles, hence the iteration). The edge-level sibling of
:mod:`.kcore`: where k-core denoises tree-like fringe vertices, k-truss
keeps only cohesively-embedded edges — the standard community-core
primitive over link graphs.

Superstep shape — state is per EDGE, demonstrating that the driver's
checkpoint/resume/metrics contract is state-schema-agnostic:

    support(e)  = #triangles of the alive edge set containing e
                  (degree-oriented wedge join — triangle_count.triangle_list,
                  the skew-surviving formulation, re-run per superstep on
                  the shrinking survivor set)
    alive'(e)   = alive(e) AND support(e) >= k-2

Halts when no edge flips (L1 of the 0/1 change indicator < 0.5), at most
``max_supersteps`` synchronous peels — a DuckDB oracle therefore replays
it bit-exactly by unrolling the same number of rounds (idempotent past
the fixed point), the _kcore_oracle protocol.

Reference anchor: the reference has no truss/cohesion operator; this
extends its contact graph (``contactmatching/ContactMatchingComputation
.java`` candidate pairs) with the standard cohesion denoiser its
risk-propagation outputs would want at production scale.

``edges`` must be CANONICAL undirected (src < dst, one row per pair).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.cache import release
from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs
from .triangle_count import WEDGES, triangle_edges, triangle_list


def _ktruss_step(k: int):
    """One edge-peeling superstep of the ``k``-truss over the carried
    edge state ``(src, dst, alive, delta)``; returns ``step(state,
    superstep) -> state``."""
    min_support = k - 2

    def step(state: DataFrame, _k: int) -> DataFrame:
        alive = state.where(F.col("alive") == 1).select("src", "dst")
        # each triangle supports its three (canonical) edges
        sup = (
            triangle_edges(triangle_list(alive))
            .groupBy(F.col("src").alias("s"), F.col("dst").alias("d"))
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        survives = (F.col("alive") == 1) & (F.coalesce("sup", F.lit(0)) >= min_support)
        new_alive = F.when(survives, 1).otherwise(0).cast("int")
        # shuffle_hash: per-edge support is O(E) — never broadcast a
        # side that grows with the graph (see connected_components.py)
        return state.join(
            sup.hint("shuffle_hash"), (state.src == sup.s) & (state.dst == sup.d), "left"
        ).select(
            state.src,
            state.dst,
            new_alive.alias("alive"),
            F.abs(new_alive - F.col("alive")).cast("double").alias("delta"),
        )

    return step


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    checkpoint_dir: str,
    run_id: str = "ktruss",
    max_supersteps: int = 30,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Returns state (src, dst, alive, delta); ``alive`` = 1 iff the edge
    survives in the k-truss. Triangle support is recomputed per superstep
    over the survivor set only, so each round's wedge join shrinks with
    the peeling front. The per-edge support count plans a partial
    ``count`` below its exchange (``operators/skew``), so an edge between
    two hubs reaches its reducer as one row per map task."""
    inputs = loop_inputs(spark, edges.select("src", "dst"), "src")
    with inputs as (e, _, P):
        init = e.select(
            "src", "dst", F.lit(1).cast("int").alias("alive"), F.lit(1.0).alias("delta")
        )
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, f"ktruss{k}", P)
        try:
            return driver.run(init, _ktruss_step(k), max_supersteps=max_supersteps,
                              tolerance=0.5, resume=resume, checkpoint_every=checkpoint_every)
        finally:
            release(WEDGES)
