"""Hub-vertex skew: one mechanism (the map-side combine) plus a diagnostic.

The reference's only balance mechanism is round-robin payload chopping at
PARTITION_SIZE=50 (``pda-common/.../ContractedPdaVentilator.java:101-117``)
— irrelevant to shuffle skew — and it cuts pre-shuffle volume with
Giraph's message combiner. In a power-law contact graph a hub's in-edges
all hash to one reducer. The engine's one skew mechanism is the Catalyst
analog of that combiner: every superstep's message aggregate, over the
rows ``plans.superstep.send`` relays, is a decomposable
``groupBy(mdst).agg(...)`` that plans as a partial hash aggregate below
the message exchange and a final one above it, so a hub's reducer
receives at most one pre-combined row per map task, not deg(hub) rows.
``tests/test_plan_discipline.py`` pins the ``partial_`` aggregate below
the exchange on each algorithm's real superstep, and pins that no side
of it is broadcast (``send`` hints its O(V) sides ``shuffle_hash``).

The combine only shrinks what its partial state shrinks. Exact ANF
(``neighborhood_function(method="exact")``) merges with ``collect_list``,
whose partial concatenates arrays, so a hub's reducer still receives
deg(hub) reached-sets' worth of elements; ``method="hll"`` is the path
whose partial (an HLL sketch union) stays bounded.

A salted two-level aggregate (hub keys spread over sub-keys, combined
twice) measured about 3x slower per superstep than the plain combine at
4M edges on local[32]; add one only together with a benchmark workload
on which it wins.

:func:`degree_census` and :func:`degree_assortativity` are the
diagnostics: they say whether an edge table is hub-skewed at all.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def degree_census(edges: DataFrame, direction: str = "in") -> DataFrame:
    """Per-vertex degree: ``(vertex_id, degree)``. ``edges`` is directed."""
    key = "dst" if direction == "in" else "src"
    return edges.groupBy(F.col(key).alias("vertex_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One-row degree-mixing statistic over an UNDIRECTED edge list given
    as its both-ways union (every {u,v} present as BOTH (u,v) and (v,u) —
    ``operators.edges.undirect`` output): Pearson correlation of
    (deg(src), deg(dst)) across directed rows — Newman's assortativity
    coefficient, the standard "do hubs link to hubs?" skew diagnostic.

    CONTRACT: both-ways input only. The census counts out-degree, which
    equals the undirected degree exactly when every edge appears in both
    directions; on a one-way directed list, sink vertices (out-degree 0)
    would be silently dropped by the inner joins and ``dy`` would need
    in-degree for the standard directed coefficient — use a dedicated
    directed variant for that, not this function.

    Two degree joins + one global aggregate. All moment sums are exact
    BIGINT arithmetic over integer degrees; the only float ops are the
    final correlation expression, written in a fixed order so an oracle
    replaying it gets bit-identical doubles. Returns
    (n_edges, n_vertices, avg_deg, assortativity); assortativity is null
    when degrees are constant (zero variance).
    """
    deg = degree_census(edges, "out")
    x = deg.select(F.col("vertex_id").alias("src"), F.col("degree").alias("dx"))
    y = deg.select(F.col("vertex_id").alias("dy_id"), F.col("degree").alias("dy"))
    pairs = edges.join(x, "src").join(y, edges.dst == F.col("dy_id"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    return agg.crossJoin(F.broadcast(nv)).select(
        n.cast("long").alias("n_edges"),
        "n_vertices",
        F.round(n.cast("double") / F.col("n_vertices"), 6).alias("avg_deg"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("assortativity"),
    )
