"""S1/S2: the reference's JSON-lines factor-graph I/O contract.

The reference reads one vertex per text line, dispatching FACTOR/VARIABLE
on the ``"type"`` field (``beliefpropagation/format/input/
FactorGraphVertexInputFormat.java:41-104``), and writes one JSON line per
VARIABLE vertex carrying the single max RiskScore under the output
comparator (value, updateTime, id) (``format/output/
FactorGraphVertexOutputFormat.java:29-32,44-59``). This module re-expresses
both ends Spark-first:

- strict explicit schemas + ``from_json`` (never inference — the reference
  refuses schema drift, SURVEY §1.3); a single merged struct covers both
  vertex shapes since JSON fields match by name and absent fields are null,
  so one pass splits the file into the two DataFrames (no double parse);
- times are decimal epoch-seconds in the wire format
  (``java/input.txt:1`` — ``"time":18412.000000000``; Jackson's Instant
  encoding) and become TimestampType internally;
- the sink writes ``{"id": ..., "updateTime": <decimal seconds>,
  "value": ...}`` lines — byte-compatible with what a reference consumer
  parses back.

This is the bridge that lets a reference deployment's existing input files
run through this engine unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..plans.cache import hold, release

#: cache owner (``plans/cache``) of the parsed lines both outputs read
PARSED = "sources.jsonlines.parsed"

# merged vertex schema: FACTOR fields + VARIABLE fields, matched by name
_DEC = T.DecimalType(24, 9)

VERTEX_LINE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("vertexId", T.StructType([T.StructField("ids", T.ArrayType(T.StringType()))])),
        T.StructField(
            "vertexValue",
            T.StructType(
                [
                    # FACTOR (Contact) shape
                    T.StructField("firstUser", T.StringType()),
                    T.StructField("secondUser", T.StringType()),
                    T.StructField(
                        "occurrences",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("time", _DEC),
                                    T.StructField("duration", _DEC),
                                ]
                            )
                        ),
                    ),
                    # VARIABLE (SendableRiskScores) shape
                    T.StructField("sender", T.ArrayType(T.StringType())),
                    T.StructField(
                        "message",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("id", T.StringType()),
                                    T.StructField("updateTime", _DEC),
                                    T.StructField("value", T.DoubleType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def read_factor_graph(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Parse a reference-format factor-graph file.

    Returns ``(contacts, scores)``:

    - ``contacts(src, dst, occurrences: array<struct<time: timestamp,
      duration_ms: long>>)`` from FACTOR lines (canonical ``src < dst``),
    - ``scores(id, update_time: timestamp, value: double)`` from VARIABLE
      lines, exploded to one row per score (SURVEY §1.1: nested sets
      become rows, not carried-around arrays).
    """
    # strictness matches the reference's refusal of schema drift: FAILFAST
    # raises on malformed JSON / uncoercible fields, and the assert_true
    # filter (never pruned, unlike a dangling select) raises on lines that
    # parse but carry no recognizable vertex type — a PERMISSIVE null here
    # would silently drop the row from both outputs. Held, so the file is
    # parsed once for both outputs and freed by the next read or release()
    release(PARSED)
    lines = (
        spark.read.text(path)
        .where(F.length(F.trim("value")) > 0)
        .select(
            F.from_json("value", VERTEX_LINE_SCHEMA, {"mode": "FAILFAST"}).alias("v")
        )
        .where(
            F.assert_true(
                F.col("v").isNotNull() & F.col("v.type").isin("FACTOR", "VARIABLE"),
                F.lit("jsonlines: vertex line with missing/unknown type"),
            ).isNull()
        )
    )
    parsed = hold(PARSED, lines.persist())

    fac = parsed.where(F.col("v.type") == "FACTOR").select(
        F.least("v.vertexValue.firstUser", "v.vertexValue.secondUser").alias("src"),
        F.greatest("v.vertexValue.firstUser", "v.vertexValue.secondUser").alias("dst"),
        F.expr(
            "transform(v.vertexValue.occurrences, o -> struct("
            " timestamp_seconds(o.time) AS time,"
            " CAST(o.duration * 1000 AS LONG) AS duration_ms))"
        ).alias("occurrences"),
    )
    # A5 merge of duplicate factor lines, same as derive_contacts
    contacts = (
        fac.select("src", "dst", F.explode("occurrences").alias("o"))
        .groupBy("src", "dst")
        .agg(F.array_sort(F.collect_set("o")).alias("occurrences"))
    )

    scores = (
        parsed.where(F.col("v.type") == "VARIABLE")
        .select(F.explode("v.vertexValue.message").alias("m"))
        .select(
            F.col("m.id").alias("id"),
            F.timestamp_seconds("m.updateTime").alias("update_time"),
            F.col("m.value").alias("value"),
        )
    )
    return contacts, scores


def write_variable_scores(final_scores: DataFrame, path: str) -> None:
    """S2 sink: one JSON line per vertex — ``{"id", "updateTime", "value"}``
    with updateTime as decimal epoch-seconds, the reference wire shape.
    ``final_scores`` is the output of ``algorithms.final_scores`` (already
    top-1 under the (value, updateTime, id) output comparator, W1)."""
    out = final_scores.select(
        F.to_json(
            F.struct(
                F.col("vertex_id").alias("id"),
                (F.unix_micros(F.col("update_time").cast("timestamp")) / F.lit(1_000_000))
                .cast(_DEC)
                .alias("updateTime"),
                F.col("value").alias("value"),
            )
        ).alias("value")
    )
    out.write.mode("overwrite").text(path)


def read_variable_scores(spark: SparkSession, path: str) -> DataFrame:
    """Read the S2 sink's output back: (id, update_time, value)."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("updateTime", _DEC),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.read.text(path)
        .where(F.length(F.trim("value")) > 0)
        .select(F.from_json("value", schema).alias("v"))
        .select(
            F.col("v.id").alias("id"),
            F.timestamp_seconds("v.updateTime").alias("update_time"),
            F.col("v.value").alias("value"),
        )
    )
