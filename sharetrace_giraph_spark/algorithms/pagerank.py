"""PageRank over the contact graph: a relational join + aggregate per
superstep under the checkpointed SuperstepDriver.

Each superstep is ``edges ⋈ state`` (hash equi-join on src, the J1
gather-scatter self-join from SURVEY §2.3) followed by
``groupBy(dst).sum`` (Catalyst partial+final hash agg = the reference's
pre-shuffle combiner, A5 analog for messages). Catalyst/Tungsten keeps
the whole step in codegen. The driver adds resume, lineage metrics and
the L1-delta halt. The transition-weighted edges, the vertex universe
and the dangling set are cached once for the run and freed when it ends
(``loop_inputs``) — the reference's STATIC_GRAPH=true analog
(``BeliefPropagationRunner.java:59``).

Semantics: standard damped PageRank, ranks sum to 1 over V vertices,
dangling mass redistributed uniformly; convergence = L1(rank_k - rank_{k-1})
< tolerance (DeltaAggregator / MasterComputer analog, 1e-5 default; tests
use 1e-6 per the north rule).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs


def _transitions(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """``(src, dst, inv_deg)``: each edge's share of its source's rank —
    ``1 / out_deg``, or ``w / Σ_src w`` (weighted random walk) with the
    positive edge weight ``weight_col``. ``edges`` must already be
    directed (use ``operators.edges.undirect`` for contact graphs)."""
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_wsum"))
        w = F.lit(1.0)
    else:
        deg = edges.groupBy("src").agg(F.sum(weight_col).alias("_wsum"))
        w = F.col(weight_col).cast("double")
    return edges.join(deg, "src").select("src", "dst", (w / F.col("_wsum")).alias("inv_deg"))


@contextlib.contextmanager
def _pr_inputs(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    weight_col: str | None,
    num_partitions: int | None,
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame | None, int]]:
    """PageRank's static inputs for one run, cached at the iteration
    width P and freed when the ``with`` ends: yields ``(e, verts,
    dangling, P)`` with ``e`` the transition edges (:func:`_transitions`)
    hash-partitioned on src, and ``dangling`` the vertices with no
    out-edge (None when there are none).

    The raw edges are evaluated once, into a cache (held until the run
    ends) that the degree agg and the transition join both read; the
    dangling set reads the cached transition edges, whose src
    partitioning spares it an exchange."""
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    inputs = loop_inputs(spark, edges.select(*cols), None, vertices, num_partitions)
    with inputs as (raw, verts, P):
        e = _transitions(raw, weight_col).repartition(P, "src")
        # vertices with no outgoing edge leak rank mass unless redistributed
        no_out = verts.join(
            e.select("src").distinct(), verts.vertex_id == F.col("src"), "left_anti"
        )
        with loop_inputs(spark, e, None, no_out, P) as (e, dangling, _):
            if dangling.isEmpty():
                dangling = None
            yield e, verts, dangling, P


def _pr_init(verts: DataFrame, n: int, teleport: DataFrame | None) -> DataFrame:
    """Superstep-0 state ``(vertex_id, rank, delta[, pref])``: uniform
    ``1/n``, or, with ``teleport``, PERSONALIZED: the walk starts at the
    seeds and the static ``pref`` column (``1/|S|`` on each seed) rides
    in the checkpointed state, so restarts need no extra join."""
    if teleport is None:
        return verts.select(
            "vertex_id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
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
    return verts.join(
        seeds.withColumn("_is_seed", F.lit(True)), "vertex_id", "left"
    ).select(
        "vertex_id",
        F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("pref"),
    ).select(
        "vertex_id",
        F.col("pref").alias("rank"),  # walk starts at the seeds
        F.lit(1.0).alias("delta"),
        "pref",
    )


def _pr_step(
    e: DataFrame,
    dangling: DataFrame | None,
    n: int,
    damping: float,
    personalized: bool,
):
    """One damped power-iteration superstep over the co-partitioned
    transition edges ``e(src, dst, inv_deg)`` (:func:`_transitions`);
    ``dangling`` is the cached vertex set whose rank mass is
    redistributed, ``n`` the vertex count. Returns ``step(state, k) ->
    state``."""
    # personalization: the restart (and dangling) distribution is the
    # static pref column riding in the state — no extra join
    base = (1.0 - damping) * F.col("pref") if personalized else F.lit((1.0 - damping) / n)
    keep = ["vertex_id", F.col("rank").alias("old_rank")] + (["pref"] if personalized else [])

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
            .select(e.dst.alias("mdst"), (F.col("rank") * F.col("inv_deg")).alias("contrib"))
        )
        inc = msgs.groupBy("mdst").agg(F.sum("contrib").alias("contrib"))

        # state already covers the full vertex universe (init from verts and
        # every step preserves it), so ONE left join replaces verts ⋈ inc ⋈
        # state — one fewer exchange per superstep
        joined = state.select(*keep).join(
            inc.hint("shuffle_hash"), F.col("vertex_id") == F.col("mdst"), "left"
        )
        if dangling is not None:
            # in-plan scalar: summed dangling mass as a 1-row broadcast
            dmass = (
                state.join(dangling, "vertex_id", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
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
            *(["pref"] if personalized else []),
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
    """Returns SuperstepResult whose state is (vertex_id, rank, delta).

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
    inputs = _pr_inputs(spark, edges, vertices, weight_col, num_partitions)
    with inputs as (e, verts, dangling, P):
        n = verts.count()
        step = _pr_step(e, dangling, n, damping, teleport is not None)
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, "pagerank", P)
        return driver.run(_pr_init(verts, n, teleport), step, max_supersteps=max_supersteps,
                          tolerance=tolerance, resume=resume, checkpoint_every=checkpoint_every)
