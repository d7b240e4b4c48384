"""Connected components: iterative min-label propagation, two methods.

``method="frontier"`` (default): same gather-scatter skeleton as PageRank
(J1 join + A1-style aggregate) with ``min`` in place of ``sum`` — labels
are vertex ids, every vertex starts labeled with itself, each superstep
every vertex adopts ``min(own, min(neighbor labels))``. Deterministic by
construction (min is order- and tie-safe), which the north rule's
"component ids exact" requires. Converges in O(component diameter)
supersteps; the checkpointed driver halts when no label changes (L1 delta
of the 0/1 change indicator < 0.5). Messages come from the ACTIVE
FRONTIER only (vertices whose label changed last superstep — the I3
voteToHalt/re-activation analog): a min label can only improve through a
neighbor that itself improved, so non-frontier senders are provably
redundant and the join shrinks geometrically as components settle.

``method="doubling"``: min-label + POINTER JUMPING (the large-star /
small-star family, cf. Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): each superstep additionally shortcuts
``comp ← comp(comp)`` via a state⋈state join on the label, so known-min
information propagates 2^k hops in k supersteps — O(log V) supersteps on
high-diameter graphs (a path of V vertices needs V-1 frontier supersteps
but only ~log2 V doubling ones) at the cost of one extra join per
superstep. Same labels, same determinism; pick per graph shape. The
frontier optimization is unsound here (a settled vertex's comp can still
shortcut), so every vertex participates each superstep.

Skew: the per-dst neighbor min plans a partial ``min`` below the
message exchange (``operators/skew``), so a hub receives one row per map
task.

Edges must be directed both ways (``operators.edges.undirect``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs, receive, send


def _cc_step(e: DataFrame, method: str):
    """One min-label superstep over the co-partitioned directed edges
    ``e(src, dst)`` for ``method`` (module docstring); returns
    ``step(state, k) -> state``."""

    def step_frontier(state: DataFrame, k: int) -> DataFrame:
        # I3 frontier (voteToHalt analog, FactorVertexComputation.java:86):
        # only vertices whose label changed last superstep send — a min-label
        # can only improve via a neighbor that itself improved. The frontier
        # collapses geometrically, so late supersteps join a small fraction
        # of V instead of all of it.
        msgs = send(e, state.where(F.col("delta") > 0.5), F.col("comp"))
        inc = msgs.groupBy("mdst").agg(F.min("comp").alias("min_nbr"))
        new_comp = F.least("comp", F.coalesce("min_nbr", "comp"))
        return receive(state, inc).select(
            "vertex_id",
            new_comp.alias("comp"),
            F.when(new_comp != F.col("comp"), 1.0).otherwise(0.0).alias("delta"),
        )

    def step_doubling(state: DataFrame, k: int) -> DataFrame:
        inc = send(e, state, F.col("comp")).groupBy("mdst").agg(F.min("comp").alias("min_nbr"))
        # pointer jump: my label's own current label (comp is always a live
        # vertex id, so the lookup join always matches; left join for safety)
        ptr = state.select(F.col("vertex_id").alias("p_id"), F.col("comp").alias("p_comp"))
        joined = receive(state, inc).join(
            ptr.hint("shuffle_hash"), F.col("comp") == F.col("p_id"), "left"
        )
        new_comp = F.least(
            "comp", F.coalesce("min_nbr", "comp"), F.coalesce("p_comp", "comp")
        )
        return joined.select(
            "vertex_id",
            new_comp.alias("comp"),
            F.when(new_comp != F.col("comp"), 1.0).otherwise(0.0).alias("delta"),
        )

    return step_frontier if method == "frontier" else step_doubling


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str,
    run_id: str = "cc",
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    resume: bool = True,
    checkpoint_every: int = 1,
    method: str = "frontier",
) -> SuperstepResult:
    """Returns state (vertex_id, comp, delta); comp = min vertex id in the
    component (exact, deterministic, identical across both methods)."""
    if method not in ("frontier", "doubling"):
        raise ValueError(f"unknown method {method!r}")
    e, verts, P = loop_inputs(spark, edges, ("src", "dst"), "src", vertices, num_partitions)
    init = verts.select("vertex_id", F.col("vertex_id").alias("comp"), F.lit(1.0).alias("delta"))
    driver = SuperstepDriver(spark, checkpoint_dir, run_id, "connected_components", P)
    return driver.run(init, _cc_step(e, method), max_supersteps=max_supersteps, tolerance=0.5,
                      resume=resume, checkpoint_every=checkpoint_every)
