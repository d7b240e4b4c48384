"""Text-analysis operators for training-data pipelines over ``documents``.

All hot paths are JVM-side column expressions (split/regexp/aggregate) —
no Python UDFs — so they scale to 100 TB document tables with predicate
pushdown and whole-stage codegen intact. Primitives are deterministic and
shared with DuckDB (md5, length arithmetic) so every operator here has an
exact SQL oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: tiny per-language stopword lexicons for the n-gram/stopword language-ID
#: heuristic (public knowledge; deliberately small and deterministic)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col) -> F.Column:
    """Whitespace tokenization, empty-safe."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(df: DataFrame) -> DataFrame:
    return df.select("doc_id", F.size(tokens("text")).alias("n_tokens"))


#: BPE-ish pre-tokenizer: alphabetic runs, single digits, single
#: punctuation marks — the shape GPT-2-style byte-pair pre-splitting
#: produces before merges (public pattern family, kept regex-simple so
#: DuckDB's regexp_extract_all reproduces it exactly for the oracle)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(df: DataFrame) -> DataFrame:
    """Subword-style token count: alphabetic runs + single digits + single
    punctuation (JVM-side regexp, no Python)."""
    c = F.col("text")
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).alias("n_bpe_tokens"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: token count, mean token length,
    stopword ratio, and a composite score in [0,1]. (The classic
    Gopher/C4-style length+stopword filters, minus the proprietary
    thresholds.)"""
    # Token array bound once as a lambda variable — the naive spelling
    # re-ran the regex split 14× per row (every reference to n/mean_len/
    # stop_ratio re-inlined the tokens() subtree; no CSE across HOF
    # lambda boundaries). Same fix as dedup.word_ngrams.
    def build(ts):
        n = F.size(ts)
        mean_len = F.when(
            n > 0,
            F.aggregate(ts, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)) / n,
        ).otherwise(F.lit(0.0))
        stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
        n_stop = F.size(F.filter(ts, lambda x: F.array_contains(stop, F.lower(x))))
        stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
        score = F.round(
            F.least(n / F.lit(64.0), F.lit(1.0)) * 0.5
            + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
            + F.least(mean_len / F.lit(8.0), F.lit(1.0)) * 0.2,
            6,
        )
        return F.struct(
            n.alias("n_tokens"),
            F.round(mean_len, 6).alias("mean_token_len"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            score.alias("quality"),
        )
    s = F.element_at(F.transform(F.array(tokens("text")), build), 1)
    return df.select("doc_id", s.alias("s")).select("doc_id", "s.*")


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID: the language whose lexicon matches the
    most tokens wins (ties → lexicographic language order, deterministic);
    'und' when nothing matches."""
    # engine-wide tie convention (same as LPA's label ties): max hits,
    # tie-break to the lexicographically SMALLEST language. Encoded for
    # struct-greatest by a negated rank field: max(n, -rank) = max hits,
    # then min rank = first language in sorted order.
    # Token array bound once (one split per row, not one per language —
    # same HOF-recompute fix as quality_score/word_ngrams).
    def build(ts):
        votes = []
        for i, lang in enumerate(sorted(LANG_STOPWORDS)):
            lex = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
            votes.append(
                F.struct(
                    F.size(F.filter(ts, lambda x: F.array_contains(lex, F.lower(x)))).alias("n"),
                    F.lit(-i).alias("nr"),
                    F.lit(lang).alias("lang"),
                )
            )
        return F.greatest(*votes) if len(votes) > 1 else votes[0]
    best = F.element_at(F.transform(F.array(tokens("text")), build), 1)
    return df.select("doc_id", best.alias("best")).select(
        "doc_id",
        F.when(F.col("best.n") > 0, F.col("best.lang")).otherwise(F.lit("und")).alias("lang_pred"),
        F.col("best.n").alias("stopword_hits"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Content fingerprint: md5 over the sorted distinct token set —
    whitespace/world-order-insensitive document identity. md5 is shared
    with DuckDB, so the oracle reproduces it bit-for-bit."""
    return df.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")).alias(
            "fp"
        ),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Within-document repetition signals (the Gopher-style rep filters):
    duplicate-token ratio ``1 - distinct/total`` and the share of the
    most frequent token. All array expressions — per-row cost is
    O(tokens · distinct), bounded by document length, with no shuffle and
    no Python."""
    # Bind the token array ONCE as a lambda variable: referencing
    # tokens("text") inside the per-distinct-token count lambda would
    # re-run the regex split per distinct token (no CSE across
    # higher-order-function lambdas) — the same O(tokens²) trap fixed in
    # dedup.word_ngrams.
    def build(ts):
        n = F.size(ts)
        nd = F.size(F.array_distinct(ts))
        top = F.array_max(
            F.transform(F.array_distinct(ts), lambda x: F.size(F.filter(ts, lambda y: y == x)))
        )
        return F.struct(
            n.alias("n_tokens"),
            nd.alias("n_distinct"),
            F.round(F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0)), 6).alias("dup_ratio"),
            F.round(F.when(n > 0, top / n).otherwise(F.lit(0.0)), 6).alias("top_token_share"),
        )
    s = F.element_at(F.transform(F.array(tokens("text")), build), 1)
    return df.select("doc_id", s.alias("s")).select("doc_id", "s.*")


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    All JVM-side: explode → two hash aggs (term freq per doc, doc freq
    per term) → broadcast the 1-row corpus size → per-doc top-k window.
    The doc-frequency side aggregates over the (already reduced) per-doc
    term table, not the raw token stream, so the second shuffle carries
    at most |vocab x docs-containing| rows. idf = ln(N / df) with no
    smoothing — deterministic double arithmetic shared with the DuckDB
    oracle (identical IEEE ops → identical ordering); ties break by term
    ascending.
    """
    per_doc = (
        df.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_freq = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        per_doc.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("score", 6).alias("tfidf"),
        )
    )
