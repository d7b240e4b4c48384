"""Square (4-cycle / butterfly) counting — non-iterative, degree-oriented.

Counts every simple 4-cycle in an undirected graph exactly once, using the
orientation decomposition from ESCAPE (Pinar, Seshadhri & Vishal, WWW 2017
— public knowledge), the 4-cycle sibling of the degree-oriented triangle
wedge join in :mod:`triangle_count`.

Orient each undirected edge from its (degree, id)-smaller endpoint to the
larger (the same skew-killing order as triangles: oriented out-degree is
O(sqrt(E)) regardless of hub size). For an ordered vertex pair u ≺ w,
classify each common neighbor v by rank:

- ``L`` (low):  v ≺ u ≺ w — an *out-out* wedge v→u, v→w
- ``M`` (mid):  u ≺ v ≺ w — an *in-out* wedge u→v→w
- ``H`` (high): u ≺ w ≺ v — an in-in wedge (never enumerated, see below)

Every 4-cycle has two diagonals; charging the cycle to center-type pairs
(L,L), (L,M), (M,M) counts it exactly once:

- ranks 1-2 diagonal (two smallest opposite): (L,L) at the 3-4 diagonal;
- ranks 1-3 diagonal: (L,M) at the 2-4 diagonal;
- ranks 1-4 diagonal: (M,M) at the 1-4 diagonal;

and the complementary signatures ((H,H), (L,H), (M,H)) are exactly the
same three cycles seen from their other diagonal — so

    C4 = Σ_{u ≺ w} [ C(L,2) + L·M + C(M,2) ]

needs only L and M. That is the load-bearing trick: H-wedges are pairs of
IN-neighbors at a hub (unbounded, Θ(deg²) on the heaviest vertex), while
L-wedges cost Σ_v C(outdeg(v), 2) and M-wedges Σ_v indeg(v)·outdeg(v),
both ≤ O(E^1.5) under the orientation — skew-safe at any hub size.

Reference anchor: the reference has no motif counting beyond implicit
triangles (``contactmatching/ContactMatchingComputation.java`` emits
pairwise contacts only); squares extend the same contact graph with the
standard bipartite-ish co-occurrence motif (two actors sharing two
distinct conversations), the next motif a link-graph profile reads after
triangles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .triangle_count import oriented_edges


def square_pair_counts(edges: DataFrame) -> DataFrame:
    """Per-diagonal-pair 4-cycle charges ``(u, w, n_squares)``.

    ``edges`` must be canonical undirected (one row per pair; src ≠ dst).
    Each simple 4-cycle contributes its full count to EXACTLY one (u, w)
    row (the charging diagonal of the decomposition above), so
    ``sum(n_squares)`` is the exact global count. Pairs are rank-ordered
    (u ≺ w under (degree, id)), and only pairs with a non-zero charge
    appear.

    Plan shape: two self-joins of the oriented edge table (out-out and
    in-out wedge enumeration), one union, ONE grouped aggregate (partial +
    final — the shuffle carries (u, w, type) wedge rows, never H-wedges),
    then a scalar per-row polynomial. No windows, no collect.

    The distinct edge set and the oriented table come from
    :func:`triangle_count.oriented_edges` and are held under its
    ``WEDGES`` owner (``plans/cache``): each call frees the previous set.
    The table's hash on `lo` co-partitions both aliases of the L join and
    the build side of the M join.
    """
    oriented = oriented_edges(edges)

    # L: out-out wedges v→u, v→w — pair key rank-ordered via the hi_deg structs
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges_l = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (
            F.struct(F.col("e1.hi_deg"), F.col("e1.hi"))
            < F.struct(F.col("e2.hi_deg"), F.col("e2.hi"))
        ),
    ).select(
        F.col("e1.hi").alias("u"), F.col("e2.hi").alias("w"), F.lit("L").alias("t")
    )

    # M: in-out wedges u→v→w (u ≺ v ≺ w by transitivity of the orientation)
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges_m = a.join(b, F.col("a.hi") == F.col("b.lo")).select(
        F.col("a.lo").alias("u"), F.col("b.hi").alias("w"), F.lit("M").alias("t")
    )

    counts = (
        wedges_l.unionByName(wedges_m)
        .groupBy("u", "w")
        .agg(
            F.count(F.when(F.col("t") == "L", 1)).alias("l_cnt"),
            F.count(F.when(F.col("t") == "M", 1)).alias("m_cnt"),
        )
    )
    l, m = F.col("l_cnt"), F.col("m_cnt")
    n_sq = (l * (l - 1) / 2 + l * m + m * (m - 1) / 2).cast("long")
    return counts.select("u", "w", n_sq.alias("n_squares")).where(F.col("n_squares") > 0)


def square_count(edges: DataFrame) -> DataFrame:
    """Global exact 4-cycle count as a 1-row DataFrame ``(n_squares)``."""
    return square_pair_counts(edges).agg(
        F.coalesce(F.sum("n_squares"), F.lit(0)).cast("long").alias("n_squares")
    )
