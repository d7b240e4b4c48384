"""PII scrubbing and benchmark-contamination checks for training-data
pipelines.

Both operators are pure JVM column expressions / hash joins — no Python
in the row path — so they keep whole-stage codegen and pushdown at
100 TB:

- :func:`pii_redact` is one projection (three ``regexp_replace`` passes
  + three ``regexp_count``); it never shuffles.
- :func:`contamination` is explode → **broadcast** join against the
  (small) benchmark n-gram set → one hash aggregate. The benchmark side
  is an eval set (thousands of docs), so the join never shuffles the
  corpus; only matched grams reach the aggregate.

Regex patterns are restricted to the syntax subset shared by Java's
``j.u.regex`` and DuckDB's RE2 (no lookaround, no backrefs) so the
driver oracle replays them bit-for-bit.

The reference engine's closest analog is the P1 geohash-coarsen
obfuscation (``sharetrace-model``'s LocationHistory coarsening — privacy
by precision truncation); redaction is the text-payload counterpart.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .dedup import word_ngrams

#: Java-regex ∩ RE2 patterns; EMAIL is redacted first so an address's
#: host part can never be re-matched as a bare IP.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

REDACTIONS = (
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
    ("ip", IPV4_PATTERN, "<IP>"),
)


def pii_redact(df: DataFrame) -> DataFrame:
    """Redact emails / phone numbers / IPv4s and count each category.

    Returns (id, redacted, n_email, n_phone, n_ip). Counts are taken on
    the text as each pass sees it (email first), so an email's host is
    counted once as an email, never again as an IP.
    """
    out = F.col("text")
    counts = []
    for name, pattern, token in REDACTIONS:
        counts.append(F.regexp_count(out, F.lit(pattern)).cast("int").alias(f"n_{name}"))
        out = F.regexp_replace(out, pattern, token)
    return df.select("doc_id", out.alias("redacted"), *counts)


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Docs sharing ≥1 word n-gram with the benchmark corpus.

    Returns (id, n_matched) — the count of DISTINCT contaminated n-grams
    per document (``word_ngrams`` de-duplicates within a doc). Docs with
    no overlap are absent: at corpus scale the clean set is the ~whole
    table, so materializing it would be the expensive way to say "ok".
    """
    grams = F.explode(word_ngrams("text", n)).alias("gram")
    bench = benchmark.select(grams).distinct()
    return (
        docs.select("doc_id", grams)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
