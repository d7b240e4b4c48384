"""PageRank over the contact graph — two kernels, one driver loop.

Kernels:

- ``relational`` (default): pure DataFrame join+agg. Each superstep is
  ``edges ⋈ state`` (hash equi-join on src — the J1 gather-scatter
  self-join from SURVEY §2.3) followed by ``groupBy(dst).sum`` (Catalyst
  partial+final hash agg = the reference's pre-shuffle combiner, A5
  analog for messages). Catalyst/Tungsten keeps the whole step in
  codegen; AQE splits skewed join partitions at runtime.
- ``csr``: per-partition CSR gather-scatter in Arrow/numpy (the north
  star's inner loop). Edges are pre-blocked by ``pmod(src, P)`` and
  cogrouped with the co-blocked rank state; inside the kernel the block's
  contributions are computed vectorized (searchsorted gather +
  np.add.at scatter) and **pre-combined per destination** before leaving
  Python — shuffle volume drops from E rows to unique-dst-per-block.

Both kernels iterate under the checkpointed SuperstepDriver (resume,
lineage metrics, L1-delta halt). Edges (and degree) are computed once and
cached — the reference's STATIC_GRAPH=true analog
(``BeliefPropagationRunner.java:59``).

Semantics: standard damped PageRank, ranks sum to 1 over V vertices,
dangling mass redistributed uniformly; convergence = L1(rank_k - rank_{k-1})
< tolerance (DeltaAggregator / MasterComputer analog, 1e-5 default; tests
use 1e-6 per the north rule).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, auto_num_partitions


def _prepare(
    edges: DataFrame,
    vertices: DataFrame,
    num_partitions: int,
    weight_col: str | None = None,
):
    """Cache iteration-invariant inputs: transition-weighted edges and the
    vertex universe. ``edges`` must already be directed (use
    ``operators.edges.undirect`` for contact graphs).

    ``weight_col``: optional positive edge weight — the per-edge
    contribution factor becomes ``w / Σ_src w`` (weighted random walk)
    instead of ``1 / out_deg``."""
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_wsum"))
        w = F.lit(1.0)
    else:
        deg = edges.groupBy("src").agg(F.sum(weight_col).alias("_wsum"))
        w = F.col(weight_col).cast("double")
    edges_w = (
        edges.join(deg, "src")
        .select("src", "dst", (w / F.col("_wsum")).alias("inv_deg"))
        .repartition(num_partitions, "src")
        .persist()
    )
    verts = vertices.select("vertex_id").repartition(num_partitions, "vertex_id").persist()
    n = verts.count()
    edges_w.count()  # materialize cache before the loop
    return edges_w, verts, n


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str,
    run_id: str = "pr",
    damping: float = 0.85,
    max_supersteps: int = 20,
    tolerance: float = 1e-6,
    kernel: str = "relational",
    num_partitions: int | None = None,
    handle_dangling: bool = True,
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

    The CSR kernel supports neither (it encodes the uniform walk); pass
    ``kernel="relational"`` (default) with them.
    """
    if kernel == "csr" and (weight_col is not None or teleport is not None):
        raise ValueError("weight_col/teleport require the relational kernel")
    # cache the raw directed edges once: auto-sizing counts them, and the
    # degree agg + transition join in _prepare both read them
    edges_c = edges.persist()
    num_partitions = auto_num_partitions(spark, edges_c, num_partitions)
    edges_w, verts, n = _prepare(edges_c, vertices, num_partitions, weight_col)
    edges_c.unpersist()  # edges_w is materialized; the raw frame is done

    # vertices with no outgoing edge leak rank mass unless redistributed
    dangling = None
    if handle_dangling:
        dangling = verts.join(
            edges_w.select("src").distinct(),
            verts.vertex_id == F.col("src"),
            "left_anti",
        ).persist()
        if dangling.isEmpty():
            dangling.unpersist()
            dangling = None

    personalized = teleport is not None
    if personalized:
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
        init = verts.join(
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
    else:
        init = verts.select(
            "vertex_id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
        )

    if kernel == "csr":
        blocked = (
            edges_w.withColumn("part", F.pmod("src", F.lit(num_partitions)).cast("int"))
            .repartition(num_partitions, "part")
            .persist()
        )
        blocked.count()

    def step(state: DataFrame, k: int) -> DataFrame:
        if kernel == "csr":
            msgs = _csr_messages(blocked, state, num_partitions)
        else:
            # shuffle_hash hint on every O(V) join side in the superstep:
            # Catalyst's static estimate (and AQE's runtime one) routinely
            # puts the ~|V|-row state under the broadcast threshold, but a
            # per-superstep broadcast of a frame that GROWS with the graph
            # is wrong at scale and measurably harmful here — repeated
            # 10-100 MB broadcast hash relations churn the heap until
            # supersteps stall at 3-8x their clean wall (BENCH.md round-3
            # analysis; CC showed 155 s vs 26 s for the identical step).
            msgs = (
                edges_w.join(state.hint("shuffle_hash"), edges_w.src == state.vertex_id)
                .select(edges_w.dst.alias("mdst"), (F.col("rank") * F.col("inv_deg")).alias("contrib"))
            )
        inc = msgs.groupBy("mdst").agg(F.sum("contrib").alias("contrib"))

        # personalization: the restart (and dangling) distribution is the
        # static pref column riding in the state — no extra join
        base = (
            (1.0 - damping) * F.col("pref") if personalized
            else F.lit((1.0 - damping) / n)
        )
        # state already covers the full vertex universe (init from verts and
        # every step preserves it), so ONE left join replaces verts ⋈ inc ⋈
        # state — one fewer exchange per superstep
        keep = ["vertex_id", F.col("rank").alias("old_rank")] + (
            ["pref"] if personalized else []
        )
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

    driver = SuperstepDriver(spark, checkpoint_dir, run_id, "pagerank", num_partitions)
    result = driver.run(init, step, max_supersteps=max_supersteps, tolerance=tolerance, resume=resume, checkpoint_every=checkpoint_every)
    edges_w.unpersist()
    verts.unpersist()
    # release the loop's static caches — a long-lived session (the driver
    # contract / bench loop) calls pagerank repeatedly, and each leaked
    # frame pins executor storage memory for the session's lifetime
    if dangling is not None:
        dangling.unpersist()
    if kernel == "csr":
        blocked.unpersist()
    return result


def _csr_messages(blocked: DataFrame, state: DataFrame, num_partitions: int) -> DataFrame:
    """Per-block CSR gather-scatter with in-kernel destination pre-combine.

    cogroup keys both sides by the src block id; the kernel gathers ranks
    into edge order via searchsorted (vectorized binary search over the
    block's sorted vertex ids) and scatter-adds contributions per unique
    destination before emitting — the Arrow/pandas analog of Giraph's
    message combiner.
    """
    st = state.withColumn("part", F.pmod("vertex_id", F.lit(num_partitions)).cast("int"))

    def kernel(edf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(edf) == 0 or len(sdf) == 0:
            return pd.DataFrame({"mdst": pd.Series(dtype="int64"),
                                 "contrib": pd.Series(dtype="float64")})
        vid = sdf["vertex_id"].to_numpy(dtype="int64")
        rank = sdf["rank"].to_numpy(dtype="float64")
        order = np.argsort(vid, kind="stable")
        vid, rank = vid[order], rank[order]

        src = edf["src"].to_numpy(dtype="int64")
        dst = edf["dst"].to_numpy(dtype="int64")
        inv = edf["inv_deg"].to_numpy(dtype="float64")

        idx = np.searchsorted(vid, src)
        # drop edges whose src is absent from the state block — the same
        # semantics as the relational kernel's inner join. Unchecked,
        # searchsorted's insertion index would read a NEIGHBORING vertex's
        # rank (silent corruption) or fall off the end (IndexError).
        idx = np.minimum(idx, len(vid) - 1)
        present = vid[idx] == src
        if not present.all():
            idx, dst, inv = idx[present], dst[present], inv[present]
        contrib = rank[idx] * inv

        udst, dinv = np.unique(dst, return_inverse=True)
        acc = np.zeros(len(udst), dtype="float64")
        np.add.at(acc, dinv, contrib)
        return pd.DataFrame({"mdst": udst, "contrib": acc})

    return (
        blocked.groupBy("part")
        .cogroup(st.groupBy("part"))
        .applyInPandas(lambda e, s: kernel(e, s), "mdst long, contrib double")
    )
