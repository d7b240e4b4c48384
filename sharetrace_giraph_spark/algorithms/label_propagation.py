"""Label propagation (community detection), synchronous + deterministic.

Each superstep every vertex adopts the **mode** of its neighbors' labels
with a deterministic (count desc, label asc) tie-break — SURVEY §7's
requirement for exact-match reproducibility (the classic async/randomized
LPA is not reproducible and is therefore not what we build). The neighbor
mode is a two-stage aggregate: ``groupBy(dst, label).count`` then
``max_by(label, (count, -label))`` — both Catalyst hash aggs with map-side
partial combine, no window needed. That map-side combine is the skew
mechanism (``operators/skew``): a hub receives at most one pre-counted
row per (map task, label).

Synchronous LPA can two-cycle on bipartite structures; the driver's
superstep cap bounds that, and the change-count delta reports
non-convergence honestly instead of spinning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs, receive, send


def _lpa_step(e: DataFrame, weight_col: str | None):
    """One mode-adoption superstep over the co-partitioned directed edges
    ``e(src, dst[, weight_col])``; returns ``step(state, k) -> state``."""
    vote = F.col(weight_col) if weight_col else F.lit(1)

    def step(state: DataFrame, k: int) -> DataFrame:
        msgs = send(e, state, F.col("label").alias("nbr_label"), vote.alias("_vote"))
        label_counts = msgs.groupBy("mdst", "nbr_label").agg(
            F.sum("_vote").alias("cnt")
        )
        # mode with (count desc, label asc) tie-break: max_by over (cnt, -label)
        mode = label_counts.groupBy("mdst").agg(
            F.max_by("nbr_label", F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg"))).alias("mode_label")
        )
        new_label = F.coalesce("mode_label", "label")
        return receive(state, mode).select(
            "vertex_id",
            new_label.alias("label"),
            F.when(new_label != F.col("label"), 1.0).otherwise(0.0).alias("delta"),
        )

    return step


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str,
    run_id: str = "lpa",
    max_supersteps: int = 5,
    resume: bool = True,
    checkpoint_every: int = 1,
    weight_col: str | None = None,
) -> SuperstepResult:
    """Returns state (vertex_id, label, delta). Labels init to vertex_id.

    ``weight_col``: optional edge-weight column — each neighbor's vote
    counts its weight instead of 1 (weighted-mode adoption). Prefer
    INTEGER weights: the label argmax compares vote sums, and float sums
    are summation-order-sensitive, which would make near-ties
    nondeterministic; integer sums are exact."""
    cols = ("src", "dst") + ((weight_col,) if weight_col else ())
    e, verts, P = loop_inputs(spark, edges, cols, "src", vertices)
    init = verts.select("vertex_id", F.col("vertex_id").alias("label"), F.lit(1.0).alias("delta"))
    driver = SuperstepDriver(spark, checkpoint_dir, run_id, "label_propagation", P)
    return driver.run(init, _lpa_step(e, weight_col), max_supersteps=max_supersteps,
                      tolerance=0.5, resume=resume, checkpoint_every=checkpoint_every)
