"""Triangle counting — non-iterative, degree-oriented wedge join.

Classic distributed formulation (the only one that survives power-law
skew): orient every undirected edge from the (degree, id)-smaller endpoint
to the larger, so each vertex's *oriented* out-degree is O(sqrt(E)); then
triangles = wedges (oriented ⋈ oriented on the apex) semi-joined against
the oriented edge set. The naive per-vertex neighborhood-intersection the
reference's all-pairs style would suggest explodes on hubs; orientation
caps the wedge count, and the closing-edge check is a broadcast-able/SMJ
equi join Catalyst plans from stats.

Returns both the global count and per-vertex triangle counts (vertices in
no triangle get 0), matching FIXTURES.md §2's expected values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.cache import held, hold, release
from ..plans.superstep import shuffle_partitions

#: cache owner (``plans/cache``) of the wedge pipelines' intermediates,
#: filled by oriented_edges for triangles and squares: one live wedge set
WEDGES = "algorithms.wedges"


def undirected_degree(edges: DataFrame) -> DataFrame:
    """Per-vertex total degree ``(v, deg)`` of a canonical edge set."""
    return (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """The degree-oriented edge table ``(lo, hi, hi_deg)`` of a canonical
    edge set: each edge points from its (degree, id)-smaller endpoint
    ``lo`` to the larger ``hi``, so every vertex's oriented out-degree is
    O(sqrt(E)). The one builder behind every wedge consumer (triangles,
    squares). It first releases :data:`WEDGES`; the distinct edge set and
    the returned table are then held under it (``plans/cache``), so no
    caller sequence pins more than one wedge set."""
    release(WEDGES)
    # e is consumed by the degree agg, the orientation join, AND every
    # broadcast build of the wedge joins — uncached, each of those jobs
    # re-executes the caller's whole edge lineage (measured: a single
    # tri.count() launched ~29 jobs of ~100 tasks each when the upstream
    # was a chain of broadcast joins with no exchange to reuse). One O(E)
    # cache materializes the lineage exactly once.
    e = hold(WEDGES, edges.select("src", "dst").distinct().persist())
    deg = undirected_degree(e)

    # orientation order = lexicographic (deg, id) compared directly as a
    # struct — no global rank/sort needed (a row_number() OVER (ORDER BY ...)
    # here would funnel all V rows through one task)
    er = (
        e.join(deg.select(F.col("v").alias("src"), F.col("deg").alias("src_deg")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dst_deg")), "dst")
    )
    src_lt = F.struct(F.col("src_deg"), F.col("src")) < F.struct(F.col("dst_deg"), F.col("dst"))
    # The EXPLICIT hash repartition on the wedge apex is load-bearing, not
    # hygiene: when the upstream edge lineage is small enough for Catalyst
    # to broadcast every dimension join (the usual plan once the vertex-id
    # map carries exact cache statistics), the whole oriented table
    # inherits the partition count of whatever tiny cached relation got
    # STREAMED — possibly ONE partition after AQE coalescing — and the
    # O(E^1.5) wedge self-joins would run as a single task. The engine's
    # parallelism must never be an accident of join-strategy choice.
    # Hashing on `lo` also co-partitions BOTH aliases of a self-join on
    # lo, so this is the wedge join's only exchange; orientation bounds
    # rows per `lo` at O(sqrt E), so the hash cannot be skewed by hubs.
    return hold(
        WEDGES,
        er.select(
            F.when(src_lt, F.col("src")).otherwise(F.col("dst")).alias("lo"),
            F.when(src_lt, F.col("dst")).otherwise(F.col("src")).alias("hi"),
            F.when(src_lt, F.col("dst_deg")).otherwise(F.col("src_deg")).alias("hi_deg"),
        )
        .repartition(shuffle_partitions(edges.sparkSession), "lo")
        .persist(),
    )


def triangle_list(edges: DataFrame) -> DataFrame:
    """Triangle enumeration ``(a, b, c)`` (each triangle exactly once) via
    the degree-oriented wedge join; ``edges`` canonical (src < dst). The
    returned frame is held under :data:`WEDGES` next to the
    :func:`oriented_edges` table it is built from (a prior call's
    returned frame stays valid — it just recomputes if used after a
    later call)."""
    oriented = oriented_edges(edges)
    # shuffle_hash on both sides: the held table is already hashed on lo,
    # so the wedge join plans no exchange; a broadcast (both sides under
    # the threshold) would pick its build side by which AQE stage
    # finishes first, a different plan from run to run
    e1 = oriented.alias("e1").hint("shuffle_hash")
    e2 = oriented.alias("e2").hint("shuffle_hash")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (
            F.struct(F.col("e1.hi_deg"), F.col("e1.hi"))
            < F.struct(F.col("e2.hi_deg"), F.col("e2.hi"))
        ),
    ).select(
        F.col("e1.lo").alias("a"), F.col("e1.hi").alias("b"), F.col("e2.hi").alias("c")
    )

    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    return hold(WEDGES, wedges.join(closing, ["b", "c"], "inner").persist())


def triangle_edges(tri: DataFrame) -> DataFrame:
    """Each triangle's three edges ``(src, dst, w)``, canonicalized
    (src < dst — :func:`triangle_list` vertex order is orientation
    order, not id order), with ``w`` the triangle's opposite corner: one
    row per (edge, common neighbor) pair."""
    corners = [("a", "b", "c"), ("a", "c", "b"), ("b", "c", "a")]
    return tri.select(
        F.explode(
            F.array(*[
                F.struct(F.least(x, y).alias("src"), F.greatest(x, y).alias("dst"),
                         F.col(w).alias("w"))
                for x, y, w in corners
            ])
        ).alias("t")
    ).select("t.src", "t.dst", "t.w")


def triangles(
    spark: SparkSession, edges: DataFrame, vertices: DataFrame
) -> tuple[int, DataFrame]:
    """``edges``: canonical undirected (src < dst, one row per pair).

    Returns (global_triangle_count, per_vertex DataFrame(vertex_id, n_triangles)).
    """
    tri = triangle_list(edges)
    return tri.count(), _per_vertex_triangles(tri, vertices)


def _per_vertex_triangles(tri: DataFrame, vertices: DataFrame) -> DataFrame:
    """``(vertex_id, n_triangles)`` for every vertex, 0 when in none."""
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex_id"))
        .groupBy("vertex_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        vertices.select("vertex_id")
        .join(per_vertex, "vertex_id", "left")
        .select("vertex_id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )


def held_triangles(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(e, deg, tri)``: :func:`triangle_list` of ``edges`` with the
    distinct edge set :func:`oriented_edges` holds first under
    :data:`WEDGES` and its degrees ``(v, deg)``, so consumers that also
    need the edge set or degrees read the held frame instead of running a
    second distinct and degree aggregate over the caller's lineage."""
    tri = triangle_list(edges)
    e = held[WEDGES][0]
    return e, undirected_degree(e), tri


def clustering_coefficient(
    spark: SparkSession, edges: DataFrame, vertices: DataFrame
) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``lcc = 2·T(v) / (deg(v)·(deg(v)−1))``, 0 when deg < 2.

    Same skew-safe machinery as :func:`triangles` (degree-oriented wedge
    join — never a per-vertex neighborhood materialization, which explodes
    on hubs). Returns ``(vertex_id, deg, n_triangles, lcc)``.
    """
    _, deg, tri = held_triangles(edges)
    deg = deg.select(F.col("v").alias("vertex_id"), "deg")
    return (
        _per_vertex_triangles(tri, vertices).join(deg, "vertex_id", "left")
        .select(
            "vertex_id",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            "n_triangles",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0 * F.col("n_triangles") / (F.col("deg") * (F.col("deg") - 1)),
            ).otherwise(F.lit(0.0)).alias("lcc"),
        )
    )


def edge_jaccard(edges: DataFrame) -> DataFrame:
    """Neighborhood Jaccard similarity per (existing) edge — the classic
    link-prediction / tie-strength score:
    ``jaccard(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|`` with
    ``|N(u) ∪ N(v)| = deg(u) + deg(v) − |N(u) ∩ N(v)|`` (u ∈ N(v) and
    v ∈ N(u), neither is in the intersection — no self-loops).

    The common-neighbor count per edge is derived from the SAME oriented
    triangle enumeration as :func:`triangles` — each triangle credits its
    three edges once — so the hot path inherits its skew bound
    (O(sqrt(E)) oriented out-degree) instead of the naive per-edge
    N(u) ⋈ N(v) expansion, whose intermediate is Σ_edges deg(u) and
    explodes on hubs. Returns ``(src, dst, n_common, jaccard)`` for every
    canonical edge.
    """
    e, deg, tri = held_triangles(edges)
    common = (
        triangle_edges(tri)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        e.join(common, ["src", "dst"], "left")
        .join(deg.select(F.col("v").alias("src"), F.col("deg").alias("src_deg")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dst_deg")), "dst")
        .select(
            "src",
            "dst",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0))
                / (F.col("src_deg") + F.col("dst_deg") - F.coalesce("n_common", F.lit(0)))
            ).alias("jaccard"),
        )
    )


def edge_adamic_adar(edges: DataFrame) -> DataFrame:
    """Adamic-Adar index per (existing) edge — the degree-discounted
    common-neighbor score: ``AA(u,v) = Σ_{w ∈ N(u) ∩ N(v)} 1/ln(deg(w))``
    (rare shared neighbors count more than hub co-membership).

    Derived from the same oriented triangle enumeration as
    :func:`edge_jaccard` — each triangle credits each of its three edges
    with ``1/ln(deg(opposite vertex))``; a vertex inside a triangle has
    degree >= 2, so the log is never zero. Skew bound inherited from the
    orientation (O(sqrt(E)) oriented out-degree). Returns
    ``(src, dst, adamic_adar)`` for every canonical edge (0.0 when the
    endpoints share no neighbor).
    """
    e, deg, tri = held_triangles(edges)
    wdeg = deg.select(
        F.col("v").alias("w"), (F.lit(1.0) / F.log(F.col("deg"))).alias("aa_term")
    )
    scores = (
        triangle_edges(tri)
        .join(wdeg, "w")
        .groupBy("src", "dst")
        .agg(F.sum("aa_term").alias("adamic_adar"))
    )
    return e.join(scores, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("adamic_adar", F.lit(0.0)).alias("adamic_adar")
    )
