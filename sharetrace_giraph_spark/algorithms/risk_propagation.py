"""Risk propagation — the reference's belief-propagation semantics,
re-expressed as DataFrame transforms (the fidelity anchor).

Reference kernel, per BP iteration (= Giraph's even+odd superstep pair,
``compute/MasterComputer.java:31-37``, fused into one step here):

variable half (``compute/VariableVertexComputation.java``):
  - F5  a variable u sends to factor {u,v} its scores EXCLUDING those that
        originated at v (`:128-138`, no echo),
factor half (``compute/FactorVertexComputation.java``):
  - F3  the factor keeps only scores with update_time < the contact's
        latest occurrence time (`:99-120` — no post-contact information),
  - F4  empty message sets are dropped (`:107`),
  - A1  it relays the max surviving score under the RiskScore natural
        order (update_time, value, id) (`:140-158`) to the other endpoint,
        scaled by a deterministic ``transmission_rate`` — replacing the
        reference's stochastic gate (`:160-163`; note its probability
        inversion bug, BPContext.java:11) with an injected damping so runs
        are reproducible,
variable update:
  - A2  u unions incoming scores into its set, dedup by
        (update_time, value, origin) (`:86-106`),
  - A3  per-vertex delta = |max(incoming).value - max(local).value|
        (`:112-117`); vertices with no incoming have delta 0 (the
        reference injects a 0.0 default score instead, A1 defaults at
        `:56-58` — divergence documented AND proven output-neutral:
        tests/test_risk_propagation.py::
        test_no_incoming_default_divergence_is_output_neutral replays the
        default-injecting variant side-by-side on both no-incoming shapes
        — an isolated vertex and a late-score-only neighbor — and the
        final max matches the engine's exactly).

Convergence: sum of deltas < 1e-5 or 5 iterations
(``MasterComputer.java:24``, ``BPContext.java:13``) via the checkpointed
SuperstepDriver.

Score struct field order is (update_time, value, origin_id) so Spark's
lexicographic struct comparison IS the RiskScore natural order
(``score/AbstractRiskScore.java:57-67``) — array_max/max on the struct
replace Collections.max.

State: ``(vertex_id string, scores array<struct<update_time timestamp,
value double, origin_id string>>, delta double)``.

Execution shape (``_risk_step``): every directed contact edge ``(src,
dst, cutoff_ts)`` joins its sender's score ARRAY once
(``plans.superstep.send``), co-partitioned with the carried state, and
F5 + F3 + A1 are one per-row ``array_max(filter(scores, ...))`` — the
scores are never exploded, so a superstep's relay join and its
per-receiver aggregation see E rows, not Σ_u |S_u|·deg(u). The receiver
agg is the superstep's one shuffle. ``final_scores`` is likewise one
``array_max`` per vertex row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.edges import undirect
from ..plans.superstep import (
    DEFAULT_MAX_SUPERSTEPS,
    DEFAULT_TOLERANCE,
    SuperstepDriver,
    SuperstepResult,
    loop_inputs,
    receive,
    send,
)


def _directed_contact_edges(contacts: DataFrame) -> DataFrame:
    """contacts(src,dst,occurrences) → both directions with the F3 cutoff:
    (src, dst, cutoff_ts = max occurrence time of the contact).

    Precondition: one row per unordered pair, ``src < dst`` (the
    reference's factor ids guarantee this). Each row becomes one relay
    edge per direction, so a pair given twice would relay two messages
    where the reference relays one."""
    return undirect(
        contacts.select("src", "dst", F.array_max("occurrences.time").alias("cutoff_ts"))
    )


def init_state(scores: DataFrame) -> DataFrame:
    """scores(id, update_time, value) → initial per-vertex state. The
    initial origin of every score is its owner (the reference's
    SendableRiskScores sender == score id at load,
    ``format/input/FactorGraphVertexInputFormat.java:60-79``)."""
    return scores.groupBy(F.col("id").alias("vertex_id")).agg(
        F.array_sort(
            F.collect_set(
                F.struct(
                    F.col("update_time"),
                    F.col("value"),
                    F.col("id").alias("origin_id"),
                )
            )
        ).alias("scores"),
        F.lit(1.0).alias("delta"),
    )


def _risk_step(edges: DataFrame, transmission_rate: float):
    """One fused BP iteration over the co-partitioned directed contact
    edges ``(src, dst, cutoff_ts)`` (execution shape: module docstring);
    returns ``step(state, k) -> state``."""
    # J1 scatter with F5 no-echo + F3 recency, then A1 max-relay to the
    # other endpoint (J2): max(struct) = natural order
    relay = F.array_max(
        F.filter(
            "scores",
            lambda s: (s["origin_id"] != F.col("dst")) & (s["update_time"] < F.col("cutoff_ts")),
        )
    )

    def step(state: DataFrame, k: int) -> DataFrame:
        relayed = (
            # the edge side is hinted too: edges are O(E) and the state
            # O(V·scores) in bytes — neither is broadcast-safe and either
            # may be the larger one
            send(edges.hint("shuffle_hash"), state, relay.alias("m"))
            # F4: an edge with no admissible score relays a NULL msg, which
            # collect_set/max skip. NOT a where(m IS NOT NULL): the optimizer
            # would push it into the join condition, evaluating the HOF twice
            # and losing the join's whole-stage codegen
            .select(
                "mdst",
                F.when(
                    F.col("m").isNotNull(),
                    F.struct(
                        F.col("m.update_time").alias("update_time"),
                        (F.col("m.value") * transmission_rate).alias("value"),
                        F.col("m.origin_id").alias("origin_id"),
                    ),
                ).alias("msg"),
            )
        )
        inc = relayed.groupBy("mdst").agg(
            F.array_sort(F.collect_set("msg")).alias("incoming"),
            F.max("msg").alias("max_incoming"),
        )
        return (
            receive(state, inc)
            .select(
                "vertex_id",
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            "scores",
                            F.coalesce("incoming", F.array().cast("array<struct<update_time:timestamp,value:double,origin_id:string>>")),
                        )
                    )
                ).alias("scores"),
                F.when(
                    F.col("max_incoming").isNotNull(),
                    F.abs(F.col("max_incoming.value") - F.array_max("scores")["value"]),
                )
                .otherwise(F.lit(0.0))
                .alias("delta"),
            )
        )

    return step


def risk_propagation(
    spark: SparkSession,
    contacts: DataFrame,
    scores: DataFrame,
    checkpoint_dir: str,
    run_id: str = "rp",
    transmission_rate: float = 1.0,
    max_supersteps: int = DEFAULT_MAX_SUPERSTEPS,
    tolerance: float = DEFAULT_TOLERANCE,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> SuperstepResult:
    """Run the BP supersteps over ``contacts(src, dst, occurrences)`` from
    ``scores(id, update_time, value)``; returns the driver's result with
    the final per-vertex state.

    ``contacts`` must hold one row per unordered pair with ``src < dst``
    (as ``derive_contacts`` and ``jsonlines.read_factor_graph`` produce):
    see :func:`_directed_contact_edges`."""
    directed = _directed_contact_edges(contacts)
    edges, _, P = loop_inputs(spark, directed, ("src", "dst", "cutoff_ts"), "src")
    driver = SuperstepDriver(spark, checkpoint_dir, run_id, "risk_propagation", P)
    return driver.run(
        init_state(scores), _risk_step(edges, transmission_rate),
        max_supersteps=max_supersteps, tolerance=tolerance, resume=resume,
        checkpoint_every=checkpoint_every,
    )


def final_scores(state: DataFrame) -> DataFrame:
    """The S2/W1 output sink analog: one row per vertex, the max score
    under the OUTPUT comparator (value, update_time, id) —
    ``format/output/FactorGraphVertexOutputFormat.java:29-32,51-56`` (note
    it differs from the natural order used in-flight).
    Returns (vertex_id, value, update_time)."""
    top = F.array_max(
        F.transform(
            "scores",
            lambda s: F.struct(
                s["value"].alias("value"),
                s["update_time"].alias("update_time"),
                s["origin_id"].alias("origin_id"),
            ),
        )
    )
    return state.select("vertex_id", top.alias("top")).select(
        "vertex_id", F.col("top.value").alias("value"), F.col("top.update_time").alias("update_time")
    )
