"""PageRank over the contact graph: a relational join + aggregate per
superstep under the checkpointed SuperstepDriver.

Each superstep is ``edges ⋈ state`` (hash equi-join on src, the J1
gather-scatter self-join from SURVEY §2.3) followed by
``groupBy(dst).sum`` (Catalyst partial+final hash agg = the reference's
pre-shuffle combiner, A5 analog for messages). Catalyst/Tungsten keeps
the whole step in codegen. The driver adds resume, lineage metrics and
the L1-delta halt. The edges and the vertex universe are the only cached
inputs, held for the run and freed when it ends (``loop_inputs``) — the
reference's STATIC_GRAPH=true analog (``BeliefPropagationRunner.java:59``).
What a vertex needs to send its messages rides in its state, as in the
reference's vertex value: its out-weight ``wsum`` (NULL on a dangling
vertex), computed once at init.

Semantics: standard damped PageRank, ranks sum to 1 over V vertices,
dangling mass redistributed uniformly; convergence = L1(rank_k - rank_{k-1})
< tolerance (DeltaAggregator / MasterComputer analog; 1e-6 default per
the north rule).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs


def _pr_init(
    e: DataFrame,
    verts: DataFrame,
    n: int,
    weight_col: str | None,
    teleport: DataFrame | None,
) -> DataFrame:
    """Superstep-0 state ``(vertex_id, rank, delta, wsum[, pref])``:
    uniform ``1/n``, or, with ``teleport``, PERSONALIZED: the walk starts
    at the seeds and the static ``pref`` column (``1/|S|`` on each seed)
    rides in the checkpointed state, so restarts need no extra join.

    The static ``wsum`` is each vertex's out-weight over the
    src-partitioned loop edges ``e``: its out-degree, or ``Σ w`` with the
    positive edge weight ``weight_col`` (weighted random walk); NULL
    marks a dangling vertex. Both sides of its join are partitioned on
    the vertex at the loop width, so it plans no exchange."""
    w = F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    out = e.groupBy("src").agg(w.cast("double").alias("wsum"))
    state = verts.join(out, verts.vertex_id == out.src, "left")
    if teleport is None:
        return state.select(
            "vertex_id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta"), "wsum"
        )
    # intersect with the vertex universe BEFORE counting: a seed not
    # in `vertices` would otherwise deflate 1/|S| and silently leave
    # sum(pref) < 1 (all-disjoint seeds → every rank 0.0).
    # verts LEFT puts the seed set on the build side: AQE
    # broadcasts the typical tiny teleport set (probe over the
    # cached verts) and shuffle-degrades an unbounded seed cohort
    # instead of force-broadcasting it (see bfs.py); seeds-left
    # could never broadcast its O(V) build side at all
    seeds = verts.join(
        teleport.select("vertex_id").distinct(),
        "vertex_id",
        "left_semi",
    )
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("teleport seed set has no vertex in the graph")
    pref = F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    return state.join(
        seeds.withColumn("_is_seed", F.lit(True)), "vertex_id", "left"
    ).select(
        "vertex_id",
        pref.alias("rank"),  # walk starts at the seeds
        F.lit(1.0).alias("delta"),
        "wsum",
        pref.alias("pref"),
    )


def _pr_step(
    e: DataFrame,
    n: int,
    damping: float,
    personalized: bool,
    weight_col: str | None,
    dangling: bool,
):
    """One damped power-iteration superstep over the co-partitioned loop
    edges ``e(src, dst[, weight_col])``: each edge carries ``rank * w /
    wsum`` of its source (``w`` = 1 unweighted). With ``dangling``, the
    rank of the vertices with NULL ``wsum`` is redistributed; ``n`` is
    the vertex count. Returns ``step(state, k) -> state``."""
    # personalization: the restart (and dangling) distribution is the
    # static pref column riding in the state — no extra join
    base = (1.0 - damping) * F.col("pref") if personalized else F.lit((1.0 - damping) / n)
    static = ["wsum"] + (["pref"] if personalized else [])
    keep = ["vertex_id", F.col("rank").alias("old_rank"), *static]
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")

    def step(state: DataFrame, k: int) -> DataFrame:
        # shuffle_hash hint on every O(V) join side in the superstep:
        # Catalyst's static estimate (and AQE's runtime one) routinely
        # puts the ~|V|-row state under the broadcast threshold, but a
        # per-superstep broadcast of a frame that GROWS with the graph
        # is wrong at scale and measurably harmful here — repeated
        # 10-100 MB broadcast hash relations churn the heap until
        # supersteps stall at 3-8x their clean wall (BENCH.md round-3
        # analysis; CC showed 155 s vs 26 s for the identical step).
        msgs = (
            e.join(state.hint("shuffle_hash"), e.src == state.vertex_id)
            .select(e.dst.alias("mdst"), (F.col("rank") * (w / F.col("wsum"))).alias("contrib"))
        )
        inc = msgs.groupBy("mdst").agg(F.sum("contrib").alias("contrib"))

        # state already covers the full vertex universe (init from verts and
        # every step preserves it), so ONE left join replaces verts ⋈ inc ⋈
        # state — one fewer exchange per superstep
        joined = state.select(*keep).join(
            inc.hint("shuffle_hash"), F.col("vertex_id") == F.col("mdst"), "left"
        )
        if dangling:
            # in-plan scalar: summed dangling mass as a 1-row broadcast
            dmass = state.where(F.col("wsum").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
            )
            joined = joined.crossJoin(F.broadcast(dmass))
            extra = damping * F.col("dangling_mass") * (
                F.col("pref") if personalized else F.lit(1.0 / n)
            )
        else:
            extra = F.lit(0.0)

        new_rank = base + damping * F.coalesce(F.col("contrib"), F.lit(0.0)) + extra
        return joined.select(
            "vertex_id",
            new_rank.alias("rank"),
            F.abs(new_rank - F.col("old_rank")).alias("delta"),
            *static,
        )

    return step


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str,
    run_id: str = "pr",
    damping: float = 0.85,
    max_supersteps: int = 20,
    tolerance: float = 1e-6,
    num_partitions: int | None = None,
    resume: bool = True,
    checkpoint_every: int = 1,
    weight_col: str | None = None,
    teleport: DataFrame | None = None,
) -> SuperstepResult:
    """Returns SuperstepResult whose state is (vertex_id, rank, delta,
    wsum[, pref]). ``edges`` must already be directed (use
    ``operators.edges.undirect`` for contact graphs).

    Generalizations (both orthogonal to the default uniform random walk):

    - ``weight_col``: positive edge-weight column on ``edges`` — the walk
      follows ``w / Σ w`` transition probabilities (e.g. contact-duration
      weights), reducing to 1/out_deg when absent.
    - ``teleport``: DataFrame of seed ``vertex_id`` rows — PERSONALIZED
      PageRank: the (1−d) restart (and any dangling mass) returns
      uniformly to the seed set instead of to all vertices. The
      personalization vector rides in the checkpointed state (one static
      ``pref`` column), so no extra join per superstep.
    """
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    inputs = loop_inputs(spark, edges.select(*cols), "src", vertices, num_partitions)
    with inputs as (e, verts, P):
        n = verts.count()
        init = _pr_init(e, verts, n, weight_col, teleport)
        # vertices with no out-edge leak rank mass unless redistributed;
        # a graph with none plans no dangling branch
        dangling = not init.where(F.col("wsum").isNull()).isEmpty()
        step = _pr_step(e, n, damping, teleport is not None, weight_col, dangling)
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, "pagerank", P)
        return driver.run(init, step, max_supersteps=max_supersteps,
                          tolerance=tolerance, resume=resume, checkpoint_every=checkpoint_every)
