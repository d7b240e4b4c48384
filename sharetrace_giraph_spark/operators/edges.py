"""Edge derivation: transcripts → contacts (the ContactMatching analog).

Reference semantics re-expressed (citations into /root/reference):

- J3  all-pairs candidate generation (``contactmatching/ContactMatchingComputation.java:63-81``)
      was an O(N^2) cross join over users. Our graft blocks on the shared
      ``conv_id`` (and session window): each session's spans are collected
      into one role-sorted array and expanded into pairs by a higher-order
      expression — the move that makes 10^12 turns tractable: candidate
      pairs are bounded by (participants-per-session choose 2) * #sessions,
      never N^2, and the J4 overlap test runs inside the expansion, so only
      overlapping pairs become rows.
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

from ..plans.cache import free
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


def _overlap_s(x, y) -> F.Column:
    """Co-presence seconds of two spans, ``min(last) - max(first)``
    (negative when they never co-present), over the spans' epoch seconds
    (monotone in the timestamps, so this equals the epoch difference of
    the interval's ends)."""
    return F.least(x["last_s"], y["last_s"]) - F.greatest(x["first_s"], y["first_s"])


def _overlapping_pairs(ps, duration_threshold_s: int) -> F.Column:
    """The span pairs ``(a, b)`` of one session that co-present for at
    least the threshold, from its role-sorted span array ``ps``: element
    ``x`` pairs with every later element ``y`` (so ``a.role < b.role`` by
    construction), and the overlap test filters each ``x``'s pairs before
    the arrays are flattened, so pairs that fail it never become rows."""

    def pairs_of(x, i):
        later = F.slice(ps, i + 2, F.size(ps) - i - 1)
        return F.transform(
            F.filter(later, lambda y: _overlap_s(x, y) >= duration_threshold_s),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        )

    return F.flatten(F.transform(ps, pairs_of))


def derive_contacts(
    transcripts: DataFrame,
    duration_threshold_s: int = DEFAULT_DURATION_THRESHOLD_S,
    session_gap_s: int = DEFAULT_SESSION_GAP_S,
) -> DataFrame:
    """transcripts → contacts(src, dst, occurrences).

    Plan shape (scale notes):
      1. window sessionization per conv_id          — 1 shuffle on conv_id,
         ``spark.sql.shuffle.partitions`` wide
      2. per (conv, session, role) span agg         — reuses the same
         hash partitioning (conv_id prefix), partial agg map-side
      3. per (conv, session) participant collect +
         higher-order pair expansion with the
         overlap test inside it (:func:`_overlapping_pairs`) — zero
         extra shuffles, one evaluation of 1-2, no post-explode filter
      4. groupBy(src, dst) occurrence merge (A5)    — 1 shuffle on the pair

    One session's surviving pairs sit in one row, built by one task: the
    row is quadratic in the session's participant count. The largest
    session measured (sf0.1 events, 150 sessions) has 587 actors, 172k
    pairs before the overlap test; a corpus with far larger sessions
    would need them split first.
    """
    # the conv_id exchange the window needs anyway, at an explicit width:
    # AQE sizes an exchange by its bytes and coalesced this one to 2 of 4
    # partitions at sf0.1, but the pair expansion it feeds is quadratic
    # per session (uncoalesced: 4.8 -> 3.5 s there). An input already
    # hash-partitioned this way keeps its partitioning (no extra shuffle).
    by_conv = transcripts.repartition(shuffle_partitions(transcripts.sparkSession), "conv_id")
    spans = (
        sessionize(by_conv, session_gap_s)
        .groupBy("conv_id", "session_id", "role")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )
    # epoch seconds once per span, not once per pair: the cast runs in
    # generated code here, interpreted inside the expansion's lambdas
    ps = spans.groupBy("conv_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct(
                "role", "first_ts", "last_ts",
                _epoch_s("first_ts").alias("first_s"),
                _epoch_s("last_ts").alias("last_s"),
            ))
        ).alias("ps")
    )
    # the survivors' occurrence is built after the explode, in generated
    # code: built inside the interpreted lambdas it measured 5.4 s against
    # 4.7 s at sf0.1
    a, b = F.col("p.a"), F.col("p.b")
    occ = ps.select(
        F.explode(_overlapping_pairs(F.col("ps"), duration_threshold_s)).alias("p")
    ).select(
        a["role"].alias("src"),
        b["role"].alias("dst"),
        F.struct(
            F.greatest(a["first_ts"], b["first_ts"]).alias("time"),
            (_overlap_s(a, b) * 1000).alias("duration_ms"),
        ).alias("occurrence"),
    )

    return occ.groupBy("src", "dst").agg(
        F.array_sort(F.collect_set("occurrence")).alias("occurrences")
    )


def expire_contacts(contacts: DataFrame, cutoff: dt.datetime) -> DataFrame:
    """F1/F6 expiry: drop the occurrences older than the injected
    ``cutoff``, and the contacts left with none."""
    live = F.filter("occurrences", lambda o: o["time"] >= F.lit(cutoff))
    return contacts.withColumn("occurrences", live).where(F.size("occurrences") > 0)


# ---------------------------------------------------------------------------
# Vertex encoding: string actor ids → dense longs for the iteration kernels.
# ---------------------------------------------------------------------------

def dense_ids(
    rows: DataFrame,
    key: str,
    out: str = "vertex_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense deterministic ids 0..N-1 by global ``key`` order, WITHOUT a
    single-partition global window (which funnels all N rows through one
    task — the classic ``row_number() OVER (ORDER BY ...)`` scale trap).

    One frozen range partitioning: the keys are range-partitioned,
    sorted within each partition and frozen by an eager
    ``localCheckpoint``. Its per-partition row counts (at most P rows)
    are collected, and their running sum gives each partition's offset;
    the range partitioner may make fewer than P partitions, and some may
    be empty, so the sum runs over the frozen frame's actual partitions.
    An id is its partition's offset plus its record number within the
    partition, the low 33 bits of ``monotonically_increasing_id`` (Spark's
    documented layout). Range partitions are ordered and rows are sorted
    within each, so the ids are a pure function of the key set. The
    counts and the ids read the same frozen partitions, so the range
    boundaries are sampled once and never re-sampled.

    The id table is one projection over those partitions, frozen by an
    eager ``localCheckpoint``: consumers see a bare ``LogicalRDD`` scan,
    not the caller's edge derivation. This is load-bearing for the
    driver's serial floor: a vertex map is referenced at least twice by
    every encode join, and AQE re-optimizes the surrounding query once
    per query stage — measured on the sf0.1 bench graph, leaving the
    lineage in place made the triangle pipeline's per-action driver
    overhead ~2.5× the task time of the whole job. The frozen partitions
    are freed before returning. The returned frame is not held in
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
        # ways is pure per-task overhead across the count pass, the id
        # pass, and every downstream join. Costs one count();
        # at-scale callers pin num_partitions.
        conf = shuffle_partitions(rows.sparkSession)
        num_partitions = max(1, min(conf, -(-rows.count() // 100_000)))
    parts = (
        rows.select(key)
        .repartitionByRange(num_partitions, key)
        .sortWithinPartitions(key)
        .localCheckpoint(eager=True)
    )
    try:
        pid = F.spark_partition_id()
        counts = dict(parts.groupBy(pid.alias("p")).count().collect())
        offsets, total = [], 0
        for p in range(parts.rdd.getNumPartitions()):
            offsets.append(total)
            total += counts.get(p, 0)
        record = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        offset = F.array(*[F.lit(o) for o in offsets])[pid]
        return parts.select((offset + record).alias(out), key).localCheckpoint(eager=True)
    finally:
        free(parts)


def vertex_ids(contacts: DataFrame) -> DataFrame:
    """Dense deterministic vertex ids: ``(vertex_id: long, role: string)``.

    Dense (0..V-1) so ids are compact long join keys for the superstep
    loop; deterministic (ordered by role) so runs are reproducible.
    Assignment is the frozen range partitioning of :func:`dense_ids` —
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
    """Canonical (src<dst) edges → both directions, for gather-scatter:
    the rows as given, then each reversed; every column other than
    ``src``/``dst`` rides along unchanged."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
    )


def duration_weight() -> F.Column:
    """A contact's weight by total co-presence: ``Σ occurrences.duration_ms
    + 1`` as a LONG (the +1 keeps every live edge positive; integer sums,
    so vote, strength and path-cost arithmetic over it is exact)."""
    return F.aggregate(
        "occurrences", F.lit(0).cast("long"), lambda acc, o: acc + o["duration_ms"]
    ) + 1


def weighted_undirect(contacts: DataFrame, vertices: DataFrame) -> DataFrame:
    """contacts + vertex map → both-ways encoded edges ``(src, dst, w)``
    with ``w`` the :func:`duration_weight`."""
    w = duration_weight()
    vsrc = vertices.select(F.col("role").alias("src"), F.col("vertex_id").alias("src_id"))
    vdst = vertices.select(F.col("role").alias("dst"), F.col("vertex_id").alias("dst_id"))
    return undirect(
        contacts.select("src", "dst", w.alias("w"))
        .join(vsrc, "src")
        .join(vdst, "dst")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"), "w")
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
