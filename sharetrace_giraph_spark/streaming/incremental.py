"""Incremental batch ingestion — the engine's "streaming" surface.

The reference has no true streaming; its streaming-ness is scheduled
re-ingestion with a persisted per-source skip cursor
(``pda-read/.../ReadRequestWorker.java:150-172,214-226`` — the HatContext
``numRecordsRead`` resume cursor) plus time-based state expiry (the 14-day
lookback of ``ExpiredFactorVertexFilter``). SURVEY §2.9 maps that to
incremental batch over warehouse snapshots, which is what this module
implements:

- :class:`IncrementalEdgePipeline` keeps a cursor (latest processed
  snapshot id) in a JSON state file; each ``tick()`` reads only the
  transcripts appended since, derives their contact edges, and MERGES them
  into the contacts table (A5 occurrence-union on collision).
- The expiry cutoff is applied at merge time — the batch analog of a
  watermark TTL (``withWatermark("ts", "14 days")`` is the Structured
  Streaming spelling; see tests for the equivalence fixture).

At cluster scale the cursor file lives next to the Iceberg table and the
merge is a MERGE INTO; the parquet fallback re-aggregates the touched
pairs only.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import edges as E
from ..sources.warehouse import ParquetWarehouse


def merge_contacts(
    existing: DataFrame | None,
    new_contacts: DataFrame,
    expiry_cutoff: dt.datetime | None = None,
) -> DataFrame:
    """A5 merge: union occurrence sets per (src, dst), dedup, sort, then
    re-apply the F6 expiry — shared by the cursor pipeline and the
    Structured Streaming sink."""
    if existing is None:
        merged = new_contacts
    else:
        merged = (
            existing.unionByName(new_contacts)
            .select("src", "dst", F.explode("occurrences").alias("o"))
            .groupBy("src", "dst")
            .agg(F.array_sort(F.collect_set("o")).alias("occurrences"))
        )
    if expiry_cutoff is not None:
        merged = E.expire_contacts(merged, expiry_cutoff)
    return merged


def merge_into_table(
    warehouse: ParquetWarehouse,
    table: str,
    transcripts: DataFrame,
    expiry_cutoff: dt.datetime | None,
    duration_threshold_s: int,
    session_gap_s: int,
) -> None:
    """Derive the contact edges of ``transcripts`` and merge them into the
    contacts ``table`` (:func:`merge_contacts`; the first merge creates
    it) — one body for the cursor pipeline's tick and the Structured
    Streaming micro-batch."""
    new_contacts = E.derive_contacts(
        transcripts, duration_threshold_s=duration_threshold_s, session_gap_s=session_gap_s
    )
    try:
        existing = warehouse.read_table(table)
    except ValueError:
        existing = None
    warehouse.write_table(merge_contacts(existing, new_contacts, expiry_cutoff), table)


class IncrementalEdgePipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: ParquetWarehouse,
        transcripts_table: str = "transcripts",
        contacts_table: str = "contacts",
        expiry_cutoff: dt.datetime | None = None,
        duration_threshold_s: int = E.DEFAULT_DURATION_THRESHOLD_S,
        session_gap_s: int = E.DEFAULT_SESSION_GAP_S,
    ) -> None:
        self.spark = spark
        self.wh = warehouse
        self.transcripts_table = transcripts_table
        self.contacts_table = contacts_table
        self.expiry_cutoff = expiry_cutoff
        self.duration_threshold_s = duration_threshold_s
        self.session_gap_s = session_gap_s
        self._cursor_path = os.path.join(warehouse.root, f"_{contacts_table}_cursor.json")

    # -- cursor (HatContext analog) --------------------------------------------

    def cursor(self) -> int | None:
        if not os.path.exists(self._cursor_path):
            return None
        with open(self._cursor_path) as f:
            return json.load(f)["snapshot"]

    def _advance(self, snap: int | None) -> None:
        with open(self._cursor_path, "w") as f:
            json.dump({"snapshot": snap}, f)

    # -- one incremental tick ----------------------------------------------------

    def tick(self) -> dict:
        """Process transcripts appended since the cursor. Returns stats."""
        new, latest = self.wh.read_incremental(self.transcripts_table, self.cursor())
        if new is None:
            return {"new_turns": 0, "cursor": latest, "merged_pairs": 0}

        merge_into_table(self.wh, self.contacts_table, new, self.expiry_cutoff,
                         self.duration_threshold_s, self.session_gap_s)
        # counted from the written snapshot, not by re-running the merge
        n_pairs = self.wh.read_table(self.contacts_table).count()
        self._advance(latest)
        return {"new_turns": new.count(), "cursor": latest, "merged_pairs": n_pairs}
