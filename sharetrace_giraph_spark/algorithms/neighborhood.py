"""Neighborhood function / HyperANF under the checkpointed superstep driver.

The neighborhood function NF(v, r) = |{u : dist(v, u) <= r}| is the core
primitive behind effective-diameter and centrality estimates over link
graphs (ANF, Palmer et al., KDD 2002; HyperANF, Boldi & Vigna, WWW 2011 —
public knowledge). Each superstep unions every vertex's reached-set with
its neighbors' reached-sets:

    N_0(v)     = {v}
    N_{r+1}(v) = N_r(v) ∪ ⋃_{u ∈ nbr(v)} N_r(u)

Two state representations, same superstep skeleton (J1 gather join +
one grouped aggregate; one action per superstep under the driver):

- ``method="exact"``: reached-set as a sorted array column. Exact, but
  state is O(sum of ball sizes) — the TEST/oracle path, correct at any
  scale you can afford to materialize.
- ``method="hll"``: reached-set as a HyperLogLog sketch (Spark's native
  ``hll_sketch_agg`` / ``hll_union_agg`` binary columns — Datasketches
  HLL, JVM-side, no Python). State is O(V · 2^lg_k) bytes REGARDLESS of
  ball size — this is HyperANF, the only representation that survives
  100 TB: at lg_k=12 each vertex carries ~2 KB whether its ball holds
  ten vertices or a billion. Estimates are deterministic (same input →
  same sketch → same estimate); relative error ~1.04/sqrt(2^lg_k).

Both carry ``hist`` — the per-radius reached-count series — so one run
yields NF(v, r) for every r ≤ max_radius (posexplode for long format).
Halts early when no ball grows (L1 of per-vertex growth < tolerance).

Skew: both merges plan a partial aggregate below the exchange
(``operators/skew``), but only the sketch union's partial is bounded —
exact's ``collect_list`` partial concatenates, so a hub still receives
deg(hub) reached-sets' worth of elements.

Reference anchor: the reference has no reachability analytics; this
extends its contact graph (``contactmatching/ContactMatchingComputation
.java`` candidate pairs) with the standard scale-first connectivity
profile (how fast does contagion reach r hops — the epidemiological
question its risk scores feed).

Edges must be directed both ways (``operators.edges.undirect``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs


def _anf_init(vertices: DataFrame, method: str, lg_k: int) -> DataFrame:
    """Radius-0 state: every ball is the vertex itself."""
    verts = vertices.select("vertex_id")
    if method == "exact":
        return verts.select(
            "vertex_id",
            F.array(F.col("vertex_id")).alias("reached"),
            F.array(F.lit(1).cast("long")).alias("hist"),
            F.lit(1.0).alias("delta"),
        )
    return verts.groupBy("vertex_id").agg(
        F.hll_sketch_agg("vertex_id", lg_k).alias("sk")
    ).select(
        "vertex_id",
        "sk",
        F.array(F.hll_sketch_estimate("sk")).alias("hist"),
        F.lit(1.0).alias("delta"),
    )


def _anf_step(e: DataFrame, method: str):
    """One ball-union superstep over the co-partitioned directed edges
    ``e(src, dst)``; returns ``step(state, k) -> state``. The reached-set
    column is ``reached`` (exact) or ``sk`` (hll)."""
    ball = "reached" if method == "exact" else "sk"
    if method == "exact":
        merged = F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("reached")))
        ).alias("reached")
        size = F.size("reached").cast("long")
    else:
        merged = F.hll_union_agg("sk").alias("sk")
        size = F.hll_sketch_estimate("sk")

    def step(state: DataFrame, k: int) -> DataFrame:
        st, ed = state.alias("st"), e.alias("ed")
        # shuffle_hash: the state side is O(V) — never broadcast a side
        # that grows with the graph (see connected_components.py)
        msgs = ed.join(st.hint("shuffle_hash"), F.col("ed.src") == F.col("st.vertex_id")).select(
            F.col("ed.dst").alias("vertex_id"),
            F.col(f"st.{ball}").alias(ball),
            F.lit(None).cast(state.schema["hist"].dataType).alias("hist"),
        )
        allm = state.select("vertex_id", ball, "hist").unionByName(msgs)
        agg = allm.groupBy("vertex_id").agg(
            merged,
            # exactly one non-null hist per group (the self row)
            F.any_value("hist", True).alias("hist"),
        )
        return agg.select(
            "vertex_id",
            ball,
            F.concat("hist", F.array(size)).alias("hist"),
            (size - F.element_at("hist", -1)).cast("double").alias("delta"),
        )

    return step


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    max_radius: int,
    checkpoint_dir: str,
    method: str = "exact",
    lg_k: int = 12,
    run_id: str = "anf",
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Returns state ``(vertex_id, hist, delta)`` (+ ``reached`` array for
    exact, ``sk`` sketch for hll); ``hist[r]`` = NF(vertex, r) — exact
    count or HLL estimate — for r = 0..radius reached. Supersteps run =
    radii computed (early-halt when every ball stops growing)."""
    if method not in ("exact", "hll"):
        raise ValueError(f"method must be 'exact' or 'hll', got {method!r}")
    inputs = loop_inputs(spark, edges.select("src", "dst"), "src")
    with inputs as (e, _, P):
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, f"neighborhood_{method}", P)
        res = driver.run(
            _anf_init(vertices, method, lg_k),
            _anf_step(e, method),
            max_supersteps=max_radius,
            resume=resume,
            checkpoint_every=checkpoint_every,
        )
    # structural contract: hist ALWAYS has max_radius+1 entries. On early
    # halt (every ball saturated) the remaining radii repeat the saturated
    # count — NF is constant past saturation by definition — so consumers
    # (nf_long, effective-diameter folds, fixed-range oracles) never
    # depend on the data-dependent halt round. Padding is a projection on
    # the returned frame only; checkpointed state stays as-written.
    pad_n = F.lit(max_radius + 1) - F.size("hist")
    res.state = res.state.withColumn(
        "hist", F.concat("hist", F.array_repeat(F.element_at("hist", -1), pad_n))
    )
    return res


def nf_long(state: DataFrame) -> DataFrame:
    """Long-format per-vertex neighborhood function:
    ``(vertex_id, radius, reached)`` — one row per computed radius."""
    return state.select(
        "vertex_id", F.posexplode("hist").alias("radius", "reached")
    )
