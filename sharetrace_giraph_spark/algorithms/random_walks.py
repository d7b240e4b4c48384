"""Deterministic random-walk corpus generation (DeepWalk-style) under the
checkpointed superstep driver.

Link-graph training pipelines turn graphs into token sequences: ``num_walks``
fixed-length walks from every non-isolated vertex become the "sentences" a
skip-gram embedding model trains on (DeepWalk, Perozzi et al., KDD 2014 —
public knowledge). The reference has no walk generator; this extends its
contact graph (``contactmatching/ContactMatchingComputation.java`` candidate
pairs) with the standard corpus-construction primitive its output graph
would feed at production scale.

**Determinism is the design center.** The "random" neighbor choice is a
rank over ``md5(seed | start | walk_idx | step | neighbor)`` — a keyed hash
both Spark and DuckDB compute identically on identical strings — with the
neighbor id as the (collision-proof) tie-break. Same input → same corpus,
on any cluster size, any partitioning, any retry. That is what makes the
walk corpus reproducible across reruns (a training-data audit requirement)
and lets a DuckDB oracle replay every step bit-exactly.

Superstep shape — one hash-partitioned join + one partial+final min-agg
per step, the same gather/scatter silhouette as PageRank's:

    frontier(w) = cur(w) ⋈ und_edges(src)          -- candidate neighbors
    next(w)     = argmin_{nbr} (md5(...), nbr)     -- keyed-hash choice
    path(w)     = path(w) ++ [next(w)]

State is per WALK (start, walk_idx, cur, path, delta), V·num_walks rows —
like :mod:`.ktruss` it exercises the driver's state-schema-agnostic
checkpoint/resume contract. Every reached vertex of an undirected graph
has ≥1 neighbor (its predecessor), so no walk ever strands; delta drops to
0 on the final step so the driver halts converged.

Scale notes: the static undirected edge table is hash-partitioned by src
and cached once (``loop_inputs``); per-step join output is
Σ_w deg(cur(w)) rows — a walk sitting on a hub brings deg(hub)
candidates under one (start, widx) key, and the per-walk ``min`` plans a
partial aggregate below the exchange (``operators/skew``), so that key
reaches its reducer as one row per map task. ``path``
carries O(walk_length) small strings per walk; for very long walks emit
long-format (walk, step, vertex) rows per superstep instead of an array.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.superstep import SuperstepDriver, SuperstepResult, loop_inputs


def walk_rank(seed: str, step: int) -> F.Column:
    """The keyed-hash rank of a candidate next-hop: columns ``start``,
    ``widx``, ``dst`` must be in scope. Hex-string comparison is
    byte-identical between Spark and DuckDB."""
    return F.md5(
        F.concat_ws(
            "|",
            F.lit(seed),
            F.col("start"),
            F.col("widx").cast("string"),
            F.lit(str(step)),
            F.col("dst"),
        )
    )


def _walks_step(e: DataFrame, seed: str, walk_length: int):
    """One keyed-hash hop of every walk over the co-partitioned directed
    edges ``e(src, dst)``; returns ``step(state, k) -> state``."""

    def step(state: DataFrame, k: int) -> DataFrame:
        # superstep 0's state lineage includes e (starts are derived from
        # it) — string aliases keep the self-join unambiguous
        st, ed = state.alias("st"), e.alias("ed")
        # shuffle_hash on BOTH sides: neither is broadcast-safe (state is
        # O(V*num_walks), edges O(E)) and either may be the smaller one
        # depending on num_walks vs avg degree — hinting both lets the
        # planner build the in-memory hash map on the smaller relation
        # instead of pinning the build side to the walk state
        frontier = st.hint("shuffle_hash").join(
            ed.hint("shuffle_hash"), F.col("st.cur") == F.col("ed.src")
        ).select(
            F.col("st.start").alias("start"),
            F.col("st.widx").alias("widx"),
            F.col("st.cur").alias("cur"),
            F.col("st.path").alias("path"),
            F.col("ed.dst").alias("dst"),
        )
        cand = F.min(
            F.struct(walk_rank(seed, k).alias("r"), F.col("dst").alias("nbr"))
        ).alias("m")
        nxt = frontier.groupBy("start", "widx").agg(
            cand,
            # constant within the group (one path per walk) — any_value
            # is deterministic here and avoids a join back to state
            F.any_value("path").alias("path"),
        )
        done = k >= walk_length - 1
        return nxt.select(
            "start",
            "widx",
            F.col("m.nbr").alias("cur"),
            F.concat("path", F.array(F.col("m.nbr"))).alias("path"),
            F.lit(0.0 if done else 1.0).alias("delta"),
        )

    return step


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    checkpoint_dir: str,
    num_walks: int = 2,
    walk_length: int = 4,
    seed: str = "rw",
    run_id: str = "walks",
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """``edges``: canonical undirected (src < dst, one row per pair; string
    or numeric vertex ids). Starts one walk batch at every vertex that has
    at least one edge. Returns state ``(start, widx, cur, path, delta)``
    where ``path`` is the walk (length ``walk_length + 1``, starting at
    ``start``); explode with ``posexplode(path)`` for the long-format
    corpus."""
    canon = edges.select("src", "dst")
    und = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with loop_inputs(spark, und, "src") as (e, _, P):
        starts = e.select(F.col("src").alias("start")).distinct()
        init = starts.select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1))).alias("widx"),
        ).select(
            "start",
            F.col("widx").cast("int").alias("widx"),
            F.col("start").alias("cur"),
            F.array(F.col("start")).alias("path"),
            F.lit(1.0).alias("delta"),
        )
        driver = SuperstepDriver(spark, checkpoint_dir, run_id, "random_walks", P)
        return driver.run(
            init,
            _walks_step(e, seed, walk_length),
            max_supersteps=walk_length,
            resume=resume,
            checkpoint_every=checkpoint_every,
        )


def walks_to_corpus(state: DataFrame) -> DataFrame:
    """Long-format corpus: one row per (walk, position) —
    ``(start, widx, step, vertex)``, the shape a skip-gram window consumer
    reads."""
    return state.select(
        "start", "widx", F.posexplode("path").alias("step", "vertex")
    )
