"""Edge derivation: transcripts → contacts (the ContactMatching analog).

Reference semantics re-expressed (citations into /root/reference):

- J3  all-pairs candidate generation (``contactmatching/ContactMatchingComputation.java:63-81``)
      was an O(N^2) cross join over users. Our graft blocks on the shared
      ``conv_id`` (and session window), turning it into an equi self-join —
      the move that makes 10^12 turns tractable: candidate pairs are
      bounded by (participants-per-session choose 2) * #sessions, never N^2.
- J4  sorted-merge interval intersection (``ContactMatchingComputation.java:91-145``):
      same-location runs >= 15 min become Occurrences, start = later entry,
      end = earlier diverging entry. Our analog: per (conv, session) the
      co-presence interval of two actors is [max(first_ts), min(last_ts)];
      it becomes an occurrence iff duration >= threshold. The reference's
      random tie-break advance (:128-133) is nondeterminism we do NOT
      reproduce — ours is a pure function of the input.
- W4  sessionization (gaps-and-islands): a gap > ``session_gap_s`` between
      consecutive turns of a conversation starts a new session.
- A5  duplicate-contact merge (``combine/FactorGraphVertexValueCombiner.java:59-69``):
      occurrences of the same (src, dst) pair union + dedup + sort.
- F1/F6 expiry (``filter/ExpiredFactorVertexFilter.java:30-47``,
      ``FactorGraphVertexValueCombiner.java:72-78``): occurrences older than
      an *injected* cutoff are dropped (the reference derives the cutoff
      from Instant.now() — BPContext.java:19-20 — which we parameterize for
      reproducibility), and a contact with no live occurrences is dropped.
- Symmetric equality of Contact (``contact/AbstractContact.java:42-57``)
      becomes the canonical ordering src < dst.

Output::

    contacts(src: string, dst: string,
             occurrences: array<struct<time: timestamp, duration_ms: long>>)
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..plans.cache import hold, release
from ..plans.superstep import shuffle_partitions

#: reference contact-duration threshold: 15 minutes
#: (``ContactMatchingComputation.java:46``)
DEFAULT_DURATION_THRESHOLD_S = 15 * 60

#: gap that splits a conversation into sessions (ours; the reference's
#: location streams had no explicit gap rule — divergence documented)
DEFAULT_SESSION_GAP_S = 30 * 60


def _epoch_s(col) -> F.Column:
    """Epoch seconds from TIMESTAMP or TIMESTAMP_NTZ (NTZ can't cast to
    long directly; with the session pinned to UTC the two agree)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def sessionize(transcripts: DataFrame, session_gap_s: int = DEFAULT_SESSION_GAP_S) -> DataFrame:
    """Add a ``session_id`` column: gaps-and-islands over (conv_id, ts).

    Window is partitioned by ``conv_id`` — bounded rows per key (turns per
    conversation), so this scales linearly with no global sort.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap = _epoch_s("ts") - F.lag(_epoch_s("ts")).over(w)
    new_session = F.when(gap.isNull() | (gap <= session_gap_s), F.lit(0)).otherwise(F.lit(1))
    return transcripts.withColumn("session_id", F.sum(new_session).over(w))


#: pair expansion over the per-session participant array: element i pairs
#: with every later element (the array is sorted by role, so a.role <
#: b.role holds by construction)
_PAIR_EXPAND = (
    "flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps) - i - 1), "
    "y -> named_struct('a', x, 'b', y))))"
)


def _pairs_grouped(spans: DataFrame) -> DataFrame:
    """All role pairs per (conv, session) in ONE pass: collect the (small
    by schema) participant list per session, expand ordered pairs with a
    higher-order expression. No self-join — the span pipeline (and the
    transcript scan under it) is evaluated once, and the groupBy reuses
    the sessionization window's conv_id hash partitioning (grouping keys
    are a superset), so this adds ZERO shuffles."""
    g = spans.groupBy("conv_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct("role", "first_ts", "last_ts"))
        ).alias("ps")
    )
    return g.select(F.explode(F.expr(_PAIR_EXPAND)).alias("p")).select(
        F.col("p.a.role").alias("a_role"),
        F.col("p.b.role").alias("b_role"),
        F.col("p.a.first_ts").alias("a_first_ts"),
        F.col("p.a.last_ts").alias("a_last_ts"),
        F.col("p.b.first_ts").alias("b_first_ts"),
        F.col("p.b.last_ts").alias("b_last_ts"),
    )


#: cache owner of the span frame the join-strategy pair expansion persists
_SPANS = "operators.edges.spans"


def _pairs_join(spans: DataFrame) -> DataFrame:
    """The equi self-join formulation of the same pair generation. The
    span pipeline is PERSISTED so both self-join branches read one cached
    evaluation (Catalyst plans the branches independently — uncached,
    the whole sessionize+agg lineage would run twice). Distributes a
    single giant session's quadratic pair fan-out across tasks instead
    of one executor row — choose it for corpora with pathologically
    large sessions. Measured on 150 conversations × ~700 turns each
    (near-complete 150-actor sessions, 1.06M pairs): join 6.8-8.7s vs
    grouped 11-15s at local[32]; on 15k small conversations the ranking
    flips (grouped evaluates the transcript scan once and adds zero
    shuffles). The persisted spans are held under their own owner
    (``plans/cache``), released on the next call."""
    release(_SPANS)
    spans = hold(_SPANS, spans.persist())
    a, b = spans.alias("a"), spans.alias("b")
    return a.join(
        b,
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("a.session_id") == F.col("b.session_id"))
        & (F.col("a.role") < F.col("b.role")),
    ).select(
        F.col("a.role").alias("a_role"),
        F.col("b.role").alias("b_role"),
        F.col("a.first_ts").alias("a_first_ts"),
        F.col("a.last_ts").alias("a_last_ts"),
        F.col("b.first_ts").alias("b_first_ts"),
        F.col("b.last_ts").alias("b_last_ts"),
    )


def derive_contacts(
    transcripts: DataFrame,
    duration_threshold_s: int = DEFAULT_DURATION_THRESHOLD_S,
    session_gap_s: int = DEFAULT_SESSION_GAP_S,
    expiry_cutoff: dt.datetime | None = None,
    include_tool_edges: bool = False,
    pair_strategy: str = "grouped",
) -> DataFrame:
    """transcripts → contacts(src, dst, occurrences).

    Plan shape (scale notes), ``pair_strategy="grouped"`` (default):
      1. window sessionization per conv_id          — 1 shuffle on conv_id
      2. per (conv, session, role) span agg         — reuses the same
         hash partitioning (conv_id prefix), partial agg map-side
      3. per (conv, session) participant collect +
         higher-order pair expansion                — zero extra shuffles,
         single evaluation of 1-2 (the self-join formulation evaluated
         the whole span pipeline TWICE, one per join side)
      4. groupBy(src, dst) occurrence merge (A5)    — 1 shuffle on the pair

    ``pair_strategy="join"`` keeps the blocked equi self-join for corpora
    whose sessions are pathologically large (see :func:`_pairs_join`).
    """
    if pair_strategy not in ("grouped", "join"):
        raise ValueError(f"unknown pair_strategy {pair_strategy!r}")
    spans = (
        sessionize(transcripts, session_gap_s)
        .groupBy("conv_id", "session_id", "role")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )

    pairs = (_pairs_grouped if pair_strategy == "grouped" else _pairs_join)(spans)

    start = F.greatest(F.col("a_first_ts"), F.col("b_first_ts"))
    end = F.least(F.col("a_last_ts"), F.col("b_last_ts"))
    duration_s = _epoch_s(end) - _epoch_s(start)

    occ = pairs.select(
        F.col("a_role").alias("src"),
        F.col("b_role").alias("dst"),
        F.struct(
            start.alias("time"), (duration_s * 1000).cast("long").alias("duration_ms")
        ).alias("occurrence"),
    ).where(duration_s >= duration_threshold_s)

    if include_tool_edges:
        occ = occ.unionByName(
            _tool_cooccurrence(transcripts, session_gap_s, duration_threshold_s)
        )

    contacts = occ.groupBy("src", "dst").agg(
        F.array_sort(F.collect_set("occurrence")).alias("occurrences")
    )

    if expiry_cutoff is not None:
        cutoff = F.lit(expiry_cutoff)
        contacts = contacts.withColumn(
            "occurrences", F.filter("occurrences", lambda o: o["time"] >= cutoff)
        ).where(F.size("occurrences") > 0)

    return contacts


def _tool_cooccurrence(
    transcripts: DataFrame, session_gap_s: int, duration_threshold_s: int
) -> DataFrame:
    """Secondary edge signal: two actors using the same tool in the same
    (conv, session). A strict subset refinement of the conv blocking key —
    kept separate so same-tool affinity can carry its own occurrence rows.
    """
    spans = (
        sessionize(transcripts, session_gap_s)
        .where(F.col("tool").isNotNull())
        .groupBy("conv_id", "session_id", "tool", "role")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )
    g = spans.groupBy("conv_id", "session_id", "tool").agg(
        F.array_sort(
            F.collect_list(F.struct("role", "first_ts", "last_ts"))
        ).alias("ps")
    )
    pairs = g.select(F.explode(F.expr(_PAIR_EXPAND)).alias("p"))
    start = F.greatest(F.col("p.a.first_ts"), F.col("p.b.first_ts"))
    end = F.least(F.col("p.a.last_ts"), F.col("p.b.last_ts"))
    duration_s = _epoch_s(end) - _epoch_s(start)
    return pairs.select(
        F.col("p.a.role").alias("src"),
        F.col("p.b.role").alias("dst"),
        F.struct(
            start.alias("time"), (duration_s * 1000).cast("long").alias("duration_ms")
        ).alias("occurrence"),
    ).where(duration_s >= duration_threshold_s)


# ---------------------------------------------------------------------------
# Vertex encoding: string actor ids → dense longs for the iteration kernels.
# ---------------------------------------------------------------------------

def _assign_ids(
    rows: DataFrame, key: str, out: str, num_partitions: int
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """The raw two-pass assignment plan behind :func:`dense_ids`, plus the
    two frames it persists (the range-partitioned rows and their P-row
    partition offsets) for the caller to release once the plan has been
    materialized."""
    # persisted so the offset agg and the assembly below read rows'
    # lineage once
    parts = (
        rows.repartitionByRange(num_partitions, key)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # partition offsets as a PLAN, not driver-collected constants:
    # offset(p) = Σ counts of lower partitions, spelled as a broadcast
    # theta-join + re-agg over the P-ROW per-partition counts (P² pairs
    # of partition COUNTS, trivial at any loop width — and unlike a
    # global running-sum window it plans no SinglePartition exchange,
    # which the plan-discipline suite bans anywhere in this function).
    # Keeping the offsets inside the same lazy plan keeps the ids right
    # under re-execution: if the persisted blocks are evicted mid-run,
    # the range exchange re-runs with a fresh sample seed —
    # RangePartitioner seeds from the newly compiled plan's RDD id — and
    # the boundaries MAY move; counts and offsets then recompute from
    # those same new boundaries, so id = |{rows with smaller key}| either
    # way. Within one execution the two reads of `parts` are consistent
    # too: the cache hit — or, uncached, ReuseExchange on the identical
    # range shuffle — serves both from a single materialization.
    counts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    lower = counts.select(F.col("_pid").alias("_lp"), F.col("_n").alias("_ln"))
    # the P-row offsets are persisted alongside parts and released with
    # it, keeping the consistency above: either both caches serve the
    # assembly or both recompute within one execution
    off = (
        counts.join(F.broadcast(lower), F.col("_lp") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_ln"), F.lit(0)).cast("long").alias("_off"))
        .persist()
    )
    w = Window.partitionBy("_pid").orderBy(key)
    assembled = parts.join(F.broadcast(off), "_pid").select(
        (F.col("_off") + F.row_number().over(w) - 1).cast("long").alias(out),
        key,
    )
    return assembled, (parts, off)


def dense_ids(
    rows: DataFrame,
    key: str,
    out: str = "vertex_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense deterministic ids 0..N-1 by global ``key`` order, WITHOUT a
    single-partition global window (which funnels all N rows through one
    task — the classic ``row_number() OVER (ORDER BY ...)`` scale trap).

    Two-pass range-partitioned assignment, both passes in ONE lazy plan
    (:func:`_assign_ids`): (1) range-partition by key and compute
    per-partition row counts → partition offsets (a P-row broadcast
    self-join, never N rows through one task); (2) id = partition offset
    + (row_number within partition, ordered by key) - 1. Global order is
    preserved because range partitions are ordered and rows are sorted
    within each, so the ids are a pure function of the input key set,
    wherever the sampled range boundaries land.

    The assembled id table is materialized ONCE by an eager
    ``localCheckpoint`` and consumers see a bare ``LogicalRDD`` scan.
    This is load-bearing for the driver's serial floor, not a cache
    nicety: the in-plan offsets embed the ``parts`` lineage (and, through
    it, the caller's whole edge derivation) THREE times inside the id
    table's logical plan, a vertex map is referenced at least twice by
    every encode join, and AQE re-optimizes the surrounding query once
    per query stage — measured on the sf0.1 bench graph, leaving the
    lineage in place made the triangle pipeline's per-action driver
    overhead ~2.5× the task time of the whole job. The ids are frozen at
    materialization, so no re-execution — hence no boundary re-sample —
    can ever be observed by a consumer. The two materialization caches
    are released before returning. The returned frame is not held in
    ``plans/cache``: it has no lineage, so freeing it would break an
    earlier result evaluated again; the ContextCleaner frees its blocks
    (about 1 KB at sf0.001, no broadcast) when it is dropped.

    The frozen table has no lineage: losing an executor that holds its
    checkpoint blocks fails every later consumer instead of recomputing
    the ids (the same failure mode as the superstep driver's carry,
    ``plans/superstep``).
    """
    if num_partitions is None:
        # stats-based width, same rationale as plans/superstep
        # .auto_num_partitions: range-partitioning a 300-row key set 32
        # ways is pure per-task overhead across the count pass, the
        # window pass, and every downstream join. Costs one count();
        # at-scale callers pin num_partitions.
        conf = shuffle_partitions(rows.sparkSession)
        num_partitions = max(1, min(conf, -(-rows.count() // 100_000)))
    assembled, cached = _assign_ids(rows, key, out, num_partitions)
    try:
        return assembled.localCheckpoint(eager=True)
    finally:
        for frame in cached:
            frame.unpersist()


def vertex_ids(contacts: DataFrame) -> DataFrame:
    """Dense deterministic vertex ids: ``(vertex_id: long, role: string)``.

    Dense (0..V-1) so ids are compact long join keys for the superstep
    loop; deterministic (ordered by role) so runs are reproducible.
    Assignment is the range-partitioned two-pass of :func:`dense_ids` —
    no global single-partition sort even at 10^9-vertex scale.
    """
    actors = contacts.select(F.col("src").alias("role")).unionByName(
        contacts.select(F.col("dst").alias("role"))
    ).distinct()
    return dense_ids(actors, "role")


def encode_edges(contacts: DataFrame, vertices: DataFrame) -> DataFrame:
    """contacts + vertex map → ``edges(src: long, dst: long)`` (canonical,
    src < dst, one row per contact pair). Vertex map is broadcast when small;
    at cluster scale Catalyst/AQE picks SMJ vs broadcast from stats.
    """
    vsrc = vertices.select(F.col("role").alias("src"), F.col("vertex_id").alias("src_id"))
    vdst = vertices.select(F.col("role").alias("dst"), F.col("vertex_id").alias("dst_id"))
    return (
        contacts.join(vsrc, "src")
        .join(vdst, "dst")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )


def undirect(edges: DataFrame) -> DataFrame:
    """Canonical (src<dst) edges → both directions, for gather-scatter."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def reply_edges(transcripts: DataFrame) -> DataFrame:
    """Directed reply/interaction edges: one edge ``prev_role → role`` per
    adjacent turn pair of a conversation where the speaker changes,
    aggregated to ``(src, dst, n_replies)``.

    This is the DIRECTED companion to :func:`derive_contacts` (which is
    symmetric by construction): information flows from the earlier turn's
    speaker to the replier, so out-degree-less actors exist (users who
    always speak last) and PageRank's dangling-mass branch is exercised.
    Plan shape: one window per conv_id (bounded rows per key, no global
    sort) + one hash agg on the pair — two shuffles total, linear at any
    scale.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    pairs = transcripts.select(
        "conv_id", "ts", "turn_idx", "role",
        F.lag("role").over(w).alias("prev_role"),
    )
    return (
        pairs.where(F.col("prev_role").isNotNull() & (F.col("prev_role") != F.col("role")))
        .groupBy(F.col("prev_role").alias("src"), F.col("role").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_replies"))
    )
