"""k-core decomposition (fixed k): iterative peeling under the
checkpointed superstep driver.

The k-core of a graph is the maximal subgraph in which every vertex has
degree >= k; it is reached by repeatedly deleting vertices of degree < k
(each deletion can push neighbors below k, hence the iteration). Classic
link-graph denoising: everything outside the k-core is tree-like fringe.

Superstep shape (same skeleton as connected components — J1 gather join +
count aggregate + state update; one Spark action per superstep under the
driver):

    deg_alive(v) = #{alive neighbors of v}        (edges ⋈ alive-state)
    alive'(v)    = alive(v) AND deg_alive(v) >= k

Halts when no vertex flips (L1 of the 0/1 change indicator < 0.5) —
at most V supersteps, in practice O(peeling depth). Deterministic: the
synchronous update is order-free. Skew: the alive-degree count plans a
partial ``sum`` below the message exchange (``operators/skew``).

Edges must be directed both ways (``operators.edges.undirect``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs, receive, send


def _kcore_step(e: DataFrame, k: int):
    """One peeling superstep of the ``k``-core over the co-partitioned
    directed edges ``e(src, dst)``; returns ``step(state, superstep) ->
    state``."""

    def step(state: DataFrame, _k: int) -> DataFrame:
        alive = state.where(F.col("alive") == 1).select("vertex_id")
        # messages: each alive vertex counts for its neighbors' degree
        msgs = send(e, alive, F.lit(1).cast("long").alias("one"))
        deg = msgs.groupBy("mdst").agg(F.sum("one").alias("alive_deg"))
        survives = (F.col("alive") == 1) & (F.coalesce("alive_deg", F.lit(0)) >= k)
        new_alive = F.when(survives, 1).otherwise(0).cast("int")
        return receive(state, deg).select(
            "vertex_id",
            new_alive.alias("alive"),
            F.when(new_alive != F.col("alive"), 1.0).otherwise(0.0).alias("delta"),
        )

    return step


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    k: int,
    checkpoint_dir: str,
    run_id: str = "kcore",
    max_supersteps: int = 100,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Returns state (vertex_id, alive, delta); ``alive`` = 1 iff the
    vertex survives in the k-core."""
    e, verts, P = loop_inputs(spark, edges, ("src", "dst"), "src", vertices)
    init = verts.select(
        "vertex_id", F.lit(1).cast("int").alias("alive"), F.lit(1.0).alias("delta")
    )
    driver = SuperstepDriver(spark, checkpoint_dir, run_id, f"kcore{k}", P)
    return driver.run(init, _kcore_step(e, k), max_supersteps=max_supersteps, tolerance=0.5,
                      resume=resume, checkpoint_every=checkpoint_every)
