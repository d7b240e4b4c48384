"""Deterministic synthetic transcripts — the engine's primary input table.

Authoritative shape (BASELINE.json ``input_hint``)::

    transcripts(conv_id: string, turn_idx: int, role: string,
                text: string, tool: string, ts: timestamp)

Two generators:

- :func:`generate_transcripts` — fully distributed (``spark.range`` +
  ``xxhash64``-seeded column expressions; no driver-side materialization),
  so the same code scales from 10^3 turns in tests to 10^12 on a cluster.
  Embeds a planted community structure and 1-2 hub actors (degree >> mean)
  to exercise hub skew.
- :func:`tiny_fixture_transcripts` — transplants the reference's canonical
  4-user fixture (``/root/reference/java/input.txt:1-8``): 4 actors
  ``"1".."4"``, contact edges {(1,2),(1,4),(2,4),(3,4)} with one occurrence
  each at epoch-days 18412-18415 and durations 1200/1800/4800/3600 s,
  expressed as transcripts so that edge derivation recovers exactly that
  graph. :func:`tiny_fixture_scores` carries the 4 per-actor risk-score
  histories (input.txt lines 5-8) for the risk-propagation fidelity anchor.

Everything is seed-parameterized and wall-clock free (the reference's
``Instant.now()`` cutoff at ``param/BPContext.java:19-20`` is a
reproducibility bug we deliberately do not inherit).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Epoch seconds of 2020-05-30 (epoch day 18412) — the fixture's first day.
FIXTURE_DAY0 = 18412 * 86400

TOOLS = ["search", "code_exec", "retrieval", "calculator", "browser"]


def _h(seed: int, *cols) -> F.Column:
    """Deterministic 64-bit hash column from a seed and columns."""
    return F.xxhash64(F.lit(seed), *cols)


def _pos_h(seed: int, *cols) -> F.Column:
    """Non-negative hash (pmod into long range)."""
    return F.pmod(_h(seed, *cols), F.lit(2**62))


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    turns_per_conv: int = 16,
    n_actors: int = 200,
    n_communities: int = 8,
    n_hubs: int = 2,
    hub_every: int = 5,
    seed: int = 42,
    start_epoch_s: int = FIXTURE_DAY0,
    conv_spacing_s: int = 3600,
    turn_spacing_s: int = 120,
    tool_null_every: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcripts with planted structure.

    Structure (all decisions are pure functions of (seed, conv, slot), so
    the table is reproducible cell-by-cell at any parallelism):

    - actors are ``actor:%06d`` for ids ``0..n_actors-1``; community ``k``
      owns the contiguous block ``[k*m, (k+1)*m)`` with ``m = n_actors //
      n_communities``; actor ids ``< n_hubs`` are global hubs.
    - conversation ``c`` belongs to community ``hash(c) % n_communities``
      and has 2-4 participants drawn from that block; every ``hub_every``-th
      conversation swaps participant slot 0 for a hub actor → hubs acquire
      degree >> mean (skew) and bridge communities (one giant component).
    - turn ``i`` of conv ``c`` is spoken by participant ``i % p`` at
      ``start + c*conv_spacing + i*turn_spacing``; ``tool`` is a
      deterministic pick from :data:`TOOLS`, null every ``tool_null_every``
      turns.
    """
    n_rows = n_convs * turns_per_conv
    df = spark.range(0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)
    conv = (F.col("id") / turns_per_conv).cast("long")
    turn = F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int")

    m = max(1, n_actors // n_communities)
    community = F.pmod(_h(seed + 1, conv), F.lit(n_communities))
    n_participants = (F.pmod(_h(seed + 2, conv), F.lit(3)) + 2).cast("int")  # 2..4
    slot = F.pmod(turn, n_participants)

    # Participant in `slot` of conv: hub override on slot 0, else community member.
    member = community * m + F.pmod(_h(seed + 3, conv, slot), F.lit(m))
    is_hub_conv = F.pmod(_h(seed + 4, conv), F.lit(hub_every)) == 0
    hub_id = F.pmod(_h(seed + 5, conv), F.lit(max(n_hubs, 1)))
    actor_id = F.when(is_hub_conv & (slot == 0), hub_id).otherwise(member)

    tool_pick = F.pmod(_h(seed + 6, conv, turn), F.lit(len(TOOLS))).cast("int")
    tool = F.when(
        F.pmod(_h(seed + 7, conv, turn), F.lit(tool_null_every)) == 0, F.lit(None).cast("string")
    ).otherwise(F.element_at(F.array(*[F.lit(t) for t in TOOLS]), tool_pick + 1))

    ts_s = F.lit(start_epoch_s) + conv * conv_spacing_s + turn * turn_spacing_s

    return df.select(
        F.format_string("conv-%08d", conv).alias("conv_id"),
        turn.alias("turn_idx"),
        F.format_string("actor:%06d", actor_id).alias("role"),
        # text is a deterministic function of (conv, turn) plus a hash tail so
        # round-trip equality is a meaningful byte-level check
        F.format_string(
            "turn %d of conversation %d :: payload-", turn, conv
        ).alias("_prefix"),
        F.hex(_h(seed + 8, conv, turn)).alias("_tail"),
        tool.alias("tool"),
        F.timestamp_seconds(ts_s).alias("ts"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.concat("_prefix", "_tail").alias("text"),
        "tool",
        "ts",
    )


def generate_edges(
    spark: SparkSession,
    n_edges: int,
    n_vertices: int,
    hub_ppm: int = 20_000,
    n_hubs: int = 4,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Direct synthetic DIRECTED edge table ``(src: long, dst: long)`` for
    engine benchmarks at scales where transcript derivation isn't the thing
    being measured. Deterministic (hash-of-index), self-loop-free, with
    ``hub_ppm`` parts-per-million of edges redirected into ``n_hubs`` hub
    destinations (power-law-ish in-degree skew for the message
    aggregates' map-side combine)."""
    df = spark.range(0, n_edges, 1, num_partitions or spark.sparkContext.defaultParallelism)
    src = F.pmod(_h(seed + 11, F.col("id")), F.lit(n_vertices))
    dst_raw = F.pmod(_h(seed + 12, F.col("id")), F.lit(n_vertices))
    dst_raw = F.when(dst_raw == src, F.pmod(dst_raw + 1, F.lit(n_vertices))).otherwise(dst_raw)
    is_hub_edge = F.pmod(_h(seed + 13, F.col("id")), F.lit(1_000_000)) < hub_ppm
    hub = F.pmod(_h(seed + 14, F.col("id")), F.lit(max(n_hubs, 1)))
    dst = F.when(is_hub_edge & (src != hub), hub).otherwise(dst_raw)
    return df.select(src.alias("src"), dst.alias("dst"))


def generate_docs(
    spark: SparkSession,
    n_docs: int,
    tokens_per_doc: int = 48,
    group_size: int = 5,
    unique_tokens: int = 5,
    n_giant_dups: int = 0,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic document corpus ``(doc_id: long, text:
    string)`` with planted near-duplicate structure, for dedup benchmarks
    at scales where the sf parquet corpora are too small.

    Structure: consecutive ``group_size`` docs form a near-dup group —
    they share the ``tokens_per_doc - unique_tokens`` leading tokens
    (derived from md5 of the group id) and differ in ``unique_tokens``
    trailing doc-specific tokens. At the defaults the pairwise 3-gram
    shingle Jaccard within a group is ~0.74, above the pipeline's 0.7
    verify threshold, so every within-group pair is a true near-dup and
    cross-group Jaccard is 0 (token vocabularies are disjoint by hash).

    ``n_giant_dups`` leading docs are byte-identical (one pathological
    duplicate cluster): they land in a single LSH bucket of that size,
    which is exactly the skew the ``max_bucket_size`` guard exists for —
    benchmarks run with the guard active to show throughput does not go
    quadratic on the pathology.

    Entirely JVM expressions (spark.range + md5 transforms): ~48 md5 per
    row, no Python, no RNG, no disk — the same determinism contract as
    ``generate_edges``."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    df = spark.range(0, n_docs, 1, parts)
    gid = (
        F.when(F.col("id") < n_giant_dups, F.lit(-1))
        .otherwise(F.floor(F.col("id") / group_size))
        .cast("string")
    )
    # bind gid/doc id as plain attributes BEFORE the per-token transforms:
    # HOF lambdas re-evaluate captured non-attribute expressions per element
    # (see operators/dedup.word_ngrams)
    df = df.select(F.col("id"), gid.alias("gid"))
    shared_n = tokens_per_doc - unique_tokens
    shared = F.transform(
        F.sequence(F.lit(0), F.lit(shared_n - 1)),
        lambda j: F.substring(
            F.md5(F.concat_ws("#", F.lit(f"s{seed}"), F.col("gid"), j.cast("string"))), 1, 8
        ),
    )
    uniq = F.when(F.col("id") < n_giant_dups, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(unique_tokens - 1)),
            lambda j: F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.lit(f"d{seed}"), F.col("id").cast("string"), j.cast("string")
                    )
                ),
                1,
                8,
            ),
        )
    )
    return df.select(
        F.col("id").alias("doc_id"),
        F.array_join(F.concat(shared, uniq), " ").alias("text"),
    )


# ---------------------------------------------------------------------------
# Tiny fixture: the reference topology, transplanted to transcripts.
# ---------------------------------------------------------------------------

# (first_user, second_user, epoch_day, duration_s) per reference input.txt:1-4
FIXTURE_EDGES = [
    ("1", "2", 18412, 1200),
    ("1", "4", 18413, 1800),
    ("2", "4", 18414, 4800),
    ("3", "4", 18415, 3600),
]

# per-actor (update_epoch_day, value) histories per reference input.txt:5-8
FIXTURE_SCORES = {
    "1": [(18412, 0.0), (18413, 0.0), (18414, 0.0), (18415, 0.2)],
    "2": [(18412, 1.0), (18413, 0.7), (18414, 0.7), (18415, 0.8)],
    "3": [(18412, 0.2), (18413, 0.4), (18414, 0.6), (18415, 0.5)],
    "4": [(18412, 0.5), (18413, 0.2), (18414, 0.4), (18415, 0.6)],
}


def tiny_fixture_transcripts(spark: SparkSession) -> DataFrame:
    """The 4-actor reference graph as transcripts.

    One conversation per contact edge; both actors speak at every 5-minute
    step from the occurrence start through start+duration, so each actor's
    span is exactly [start, start+duration] and sessionized co-presence
    yields exactly one occurrence of that duration (>= the 15-min contact
    threshold for all four edges).
    """
    rows = []
    for i, (u, v, day, dur_s) in enumerate(FIXTURE_EDGES):
        conv_id = f"conv-fix-{i}"
        start = day * 86400
        n_steps = dur_s // 300 + 1  # every 5 min, inclusive of both ends
        for t in range(n_steps):
            ts = start + t * 300
            for j, actor in enumerate((u, v)):
                rows.append(
                    (
                        conv_id,
                        2 * t + j,
                        actor,
                        f"fixture turn {2 * t + j} of {conv_id}",
                        None,
                        ts,
                    )
                )
    df = spark.createDataFrame(
        [(c, t, r, x, tool, ts) for (c, t, r, x, tool, ts) in rows],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts long",
    )
    return df.withColumn("ts", F.timestamp_seconds("ts"))


SCORES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("update_time", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


def tiny_fixture_scores(spark: SparkSession) -> DataFrame:
    """Per-actor RiskScore histories (reference ``java/input.txt:5-8``)."""
    rows = [
        (actor, day * 86400, value)
        for actor, hist in FIXTURE_SCORES.items()
        for (day, value) in hist
    ]
    df = spark.createDataFrame(rows, schema="id string, update_time long, value double")
    return df.withColumn("update_time", F.timestamp_seconds("update_time"))
