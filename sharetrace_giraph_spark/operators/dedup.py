"""Deduplication operators for training-data pipelines.

Five families, each scale-shaped for 100 TB document tables:

- exact:      md5(text) hash-groupBy — one shuffle on the digest, partial
              agg map-side; never compares full text twice.
- fingerprint: md5 over the sorted token set (whitespace/order-insensitive
              exact dup) — same shuffle shape.
- minhash+LSH: shingle → k min-hashes → band buckets → equi self-join per
              band. Candidate generation is the banded equi join (blocked,
              like the conv_id contact join) — never the O(N²) cross join.
- ngram-jaccard: exact Jaccard over word n-gram sets for candidate pairs
              (verification stage after LSH, or windowed pairs in tests).
- simhash:    60-bit simhash computed ENTIRELY JVM-side (explode tokens →
              md5-derived token hash → 60 bit-vote sums in one partial+final
              hash agg → bit assembly expression); near-dup = Hamming
              distance ≤ k over bucketed prefixes. No Python in the kernel.
- embedding near-dup: see operators/similarity.py (cosine path).

Skew safety ("no silent caps"): a giant duplicate cluster puts its whole
membership into one LSH band bucket / simhash prefix bucket, making the
within-bucket self-join quadratic. Both candidate generators therefore
accept ``max_bucket_size``: oversized buckets are EXCLUDED from pair
generation, and the exclusion is loud — ``log_dropped=True`` logs the
dropped bucket count/sizes, and the ``*_bucket_stats`` helpers expose the
full bucket-size census for monitoring.

Determinism: md5-based hashes only (bit-identical in DuckDB for oracles);
no RNG anywhere.
"""

from __future__ import annotations

import logging
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans.cache import hold, release
from .text import tokens

logger = logging.getLogger(__name__)


#: cache owner (``plans/cache``) of the bucket-key frame a capped call persists
BUCKETS = "operators.dedup.buckets"


def _cap_buckets(
    keyed: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    log_dropped: bool,
    what: str,
) -> DataFrame:
    """Filter ``keyed`` down to rows whose bucket has ≤ max_bucket_size
    members. ``log_dropped`` triggers one small eager agg to report what
    was cut (the no-silent-caps rule); leave False on hot paths."""
    if max_bucket_size is None:
        return keyed
    # `keyed` feeds BOTH the bucket-size census and the probe side of the
    # semi-join below — uncached, the full upstream signature pipeline
    # (shingle explode + k min-hash aggs) runs twice even in a single
    # action, because the census's partial agg sits below its exchange
    # and defeats ReuseExchange (measured 2x wall on the sf0.1 LSH
    # query). The bucket-key frame is narrow (id, bucket cols) and
    # O(docs × bands), so persist it for every capped call — quiet or
    # loud — and leave it live for the caller's action.
    release(BUCKETS)
    keyed = hold(BUCKETS, keyed.persist())
    sizes = keyed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("bucket_n"))
    if log_dropped:
        dropped = sizes.where(F.col("bucket_n") > max_bucket_size).agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("members"),
        ).collect()[0]
        if dropped["buckets"]:
            logger.warning(
                "%s: dropping %d oversized buckets (> %d members, %d rows total) "
                "from candidate generation",
                what, dropped["buckets"], max_bucket_size, dropped["members"],
            )
    ok = sizes.where(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")
    return keyed.join(ok, bucket_cols, "left_semi")


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_dups, min_doc_id),
    only groups with n_dups > 1."""
    return (
        df.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def word_ngrams(col, n: int = 3) -> F.Column:
    """Distinct word n-grams (shingles) as an array of strings.

    The token array is bound ONCE as a lambda variable (the
    ``transform(array(tokens), build)`` wrapper) before the per-index
    shingle transform runs. Referencing ``tokens(col)`` directly inside
    the inner lambda would re-evaluate the regex split PER SHINGLE INDEX
    (Catalyst does not common-subexpression-eliminate across higher-order
    -function lambda boundaries), turning an O(tokens) expression into
    O(tokens²) per row — measured 6.3× slower on the sf0.1 corpus."""
    def build(ts):
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.array_join(F.slice(ts, i + 1, n), " ")
        )
        return F.array_distinct(
            F.when(F.size(ts) >= n, grams).otherwise(F.array())
        )
    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """k min-hashes per document: h_i(doc) = min over shingles of
    md5(shingle || '#' || i). One explode + one groupBy(doc) with k min
    aggregates — partial-aggregated map-side, shuffle carries k digests per
    doc, not the shingle stream."""
    ex = df.select(
        F.col("doc_id"), F.explode(word_ngrams("text", shingle_n)).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _banded_keys(
    signatures: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    if num_hashes % bands != 0:
        # the module's no-silent-caps rule: flooring would quietly ignore
        # the trailing num_hashes % bands min-hashes and shift the LSH
        # s-curve the caller tuned for
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly"
        )
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])).alias("key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col("doc_id").alias("doc"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_band_stats(
    signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Band-bucket census (band, key, bucket_n) — the monitoring companion
    of ``max_bucket_size`` (a bucket of n docs generates n·(n-1)/2 pairs)."""
    keyed = _banded_keys(signatures, num_hashes, bands)
    return keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bucket_n"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Banded LSH: split the k-signature into ``bands`` bands of k/bands
    rows; docs sharing any full band become a candidate pair. Implemented
    as explode-to-(band, key) + equi self-join per band key — the same
    blocked-pair-generation shape as the conv_id contact join (J3).
    Returns distinct (a, b) with a < b. ``max_bucket_size`` bounds the
    per-bucket quadratic blowup a giant duplicate cluster causes (its
    members share every band key); oversized buckets are excluded from
    pair generation — loudly, see module docstring."""
    keyed = _banded_keys(signatures, num_hashes, bands)
    keyed = _cap_buckets(keyed, ["band", "key"], max_bucket_size, log_dropped, "lsh_candidate_pairs")
    l, r = keyed.alias("l"), keyed.alias("r")
    pairs = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
    return pairs.distinct()


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for given (a, b)
    candidate pairs — the verify stage after LSH. Two hash joins against
    the (small relative to corpus) pair list.

    Shingling happens AFTER the pair join, so the per-row n-gram
    computation runs only for documents that actually appear in a
    candidate pair — not twice over the full corpus. At 100 TB the
    candidate set is orders of magnitude smaller than the corpus, and
    the corpus sides of the joins stream just (id, text) with the tiny
    pair list as the broadcast build side."""
    da = docs.select(F.col("doc_id").alias("a"), F.col("text").alias("_text_a"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("text").alias("_text_b"))
    j = pairs.join(da, "a").join(db, "b")
    # grams materialized once per side per row (multi-use non-cheap alias:
    # CollapseProject keeps the projection boundary, so intersect+union
    # below do not re-shingle — see test_plan_discipline)
    j = j.select(
        "a", "b",
        word_ngrams("_text_a", shingle_n).alias("grams_a"),
        word_ngrams("_text_b", shingle_n).alias("grams_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return j.select(
        "a", "b",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6).alias("jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH candidates → exact-Jaccard
    verify → pairs with jaccard >= threshold."""
    sigs = minhash_signatures(df, num_hashes, shingle_n)
    cand = lsh_candidate_pairs(sigs, num_hashes, bands,
                               max_bucket_size, log_dropped)
    return ngram_jaccard(cand, df, shingle_n).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash — fully JVM-side (codegen), md5-derived token hashes, 60 bits.
# ---------------------------------------------------------------------------

#: 60 bits = 15 md5 hex chars: fits a signed 64-bit long with headroom, so
#: every shift/compare stays in non-negative territory on both Spark and
#: DuckDB (the oracle replays the identical arithmetic).
SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame) -> DataFrame:
    """(doc, sh): 60-bit SimHash per document, entirely in JVM expressions.

    Token hash = first 15 hex chars of md5(token) → long. The per-bit
    majority vote is 60 ``sum((h >> b) & 1)`` aggregates over the exploded
    token stream — ONE partial+final hash agg (map-side combine reduces
    the shuffle to 61 longs per doc), then a single select assembles the
    hash from the votes. Replaces the round-1 pandas UDF whose inner loop
    was per-row Python with per-token hashlib calls (the anti-pattern the
    north rule forbids). Documents with zero tokens have no signature (and
    thus never pair).
    """
    ex = df.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    ex = ex.select("doc", h.alias("h"))
    aggs = [
        F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("n")]
    votes = ex.groupBy("doc").agg(*aggs)
    sh = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0)),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return votes.select("doc", sh.alias("sh"))


def simhash_bucket_stats(
    df: DataFrame,
    prefix_bits: int = 16,
) -> DataFrame:
    """Bucket-size census (bucket, bucket_n) for the prefix blocking —
    the monitoring companion of ``max_bucket_size``."""
    h = simhash_signatures(df)
    return (
        h.select(F.shiftrightunsigned("sh", SIMHASH_BITS - prefix_bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
    )


def simhash_near_duplicates(
    df: DataFrame,
    prefix_bits: int = 16,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """SimHash near-dup: bucket by the top ``prefix_bits`` bits (blocked
    candidate generation), verify Hamming distance ≤ max_hamming via
    bit_count(xor). Rotating the prefix (multi-probe) is a caller-side
    union at scale; one probe here. ``max_bucket_size`` bounds the
    within-bucket self-join against duplicate-cluster skew (oversized
    buckets are excluded — loudly, see module docstring)."""
    h = simhash_signatures(df)
    h = h.withColumn("bucket", F.shiftrightunsigned("sh", SIMHASH_BITS - prefix_bits))
    h = _cap_buckets(h, ["bucket"], max_bucket_size, log_dropped, "simhash_near_duplicates")
    l, r = h.alias("l"), h.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
