"""Datagen determinism, text round-trip invariant, and edge derivation
against the pure-Python oracle + the transplanted reference fixture."""

from __future__ import annotations

import pyspark.sql.functions as F

from sharetrace_giraph_spark import datagen
from sharetrace_giraph_spark.operators import edges as E

from .reference_impl import derive_contacts_py


def _collect_turn_rows(df):
    return [
        (r.conv_id, r.turn_idx, r.role, int(r.ts.timestamp()))
        for r in df.select("conv_id", "turn_idx", "role", "ts").collect()
    ]


def test_generate_transcripts_deterministic(spark):
    a = datagen.generate_transcripts(spark, n_convs=50, turns_per_conv=8, seed=7)
    b = datagen.generate_transcripts(spark, n_convs=50, turns_per_conv=8, seed=7)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    # different seed → different table
    c = datagen.generate_transcripts(spark, n_convs=50, turns_per_conv=8, seed=8)
    assert not a.exceptAll(c).isEmpty()


def test_text_roundtrip_under_stable_ordering(spark, tmp_path):
    """north-rule invariant: per-turn text byte-equal round-trip under
    stable (conv_id, turn_idx) ordering."""
    t = datagen.generate_transcripts(spark, n_convs=40, turns_per_conv=10, seed=42)
    path = str(tmp_path / "transcripts.parquet")
    t.write.parquet(path)
    back = spark.read.parquet(path)

    orig = t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    rt = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert len(orig) == 40 * 10
    assert [tuple(r) for r in orig] == [tuple(r) for r in rt]


def test_tiny_fixture_edges_match_reference_topology(spark):
    """Edge derivation must recover exactly the reference graph
    (/root/reference/java/input.txt): edges {(1,2),(1,4),(2,4),(3,4)}
    with one occurrence each of the fixture durations."""
    t = datagen.tiny_fixture_transcripts(spark)
    contacts = E.derive_contacts(t)
    rows = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in contacts.collect()
    }
    expected = {
        (u, v): [(day * 86400, dur * 1000)]
        for (u, v, day, dur) in datagen.FIXTURE_EDGES
    }
    assert rows == expected


def test_derive_contacts_matches_python_oracle(spark):
    t = datagen.generate_transcripts(
        spark, n_convs=120, turns_per_conv=12, n_actors=40, n_communities=4, seed=11
    )
    got = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in E.derive_contacts(t).collect()
    }
    exp = derive_contacts_py(_collect_turn_rows(t))
    assert got == exp
    assert len(got) > 10  # non-trivial graph


def test_expiry_filter(spark):
    """F1/F6 analog: occurrences before the injected cutoff are dropped;
    contacts left empty disappear."""
    import datetime as dt

    t = datagen.tiny_fixture_transcripts(spark)
    cutoff = dt.datetime(2020, 6, 1, tzinfo=dt.timezone.utc)  # = day 18414
    contacts = E.expire_contacts(E.derive_contacts(t), cutoff)
    rows = {(r.src, r.dst) for r in contacts.collect()}
    # days 18412 (5/30) and 18413 (5/31) expire; 18414 (6/1) and 18415 survive
    assert rows == {("2", "4"), ("3", "4")}


def test_vertex_ids_and_encoding(spark):
    t = datagen.tiny_fixture_transcripts(spark)
    contacts = E.derive_contacts(t)
    verts = E.vertex_ids(contacts)
    vmap = {r.role: r.vertex_id for r in verts.collect()}
    assert sorted(vmap.keys()) == ["1", "2", "3", "4"]
    assert sorted(vmap.values()) == [0, 1, 2, 3]
    enc = E.encode_edges(contacts, verts)
    got = {(r.src, r.dst) for r in enc.collect()}
    expected = {(vmap[u], vmap[v]) for (u, v, _, _) in datagen.FIXTURE_EDGES}
    assert got == expected
    # undirect doubles
    assert E.undirect(enc).count() == 8


def test_duration_weighted_edges_long_both_ways(spark):
    """Both directions of every contact, weighted by the summed
    occurrence durations + 1 as an exact LONG (a contact whose
    occurrences sum to 0 ms keeps weight 1)."""
    import datetime as dt

    t0 = dt.datetime(2020, 6, 1, tzinfo=dt.timezone.utc)
    contacts = spark.createDataFrame(
        [("a", "b", [(t0, 900_000), (t0, 1_800_000)]), ("b", "c", [(t0, 0)])],
        "src string, dst string, "
        "occurrences array<struct<time: timestamp, duration_ms: long>>",
    )
    verts = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "vertex_id long, role string")
    wund = E.weighted_undirect(contacts, verts)
    assert dict(wund.dtypes)["w"] == "bigint"
    got = sorted((r.src, r.dst, r.w) for r in wund.collect())
    assert got == [(0, 1, 2_700_001), (1, 0, 2_700_001), (1, 2, 1), (2, 1, 1)]


def test_dense_ids_survive_cache_eviction(spark):
    """An id table returned by an EARLIER dense_ids call stays valid and
    unchanged after a LATER call: each call freezes its own table (an
    eager localCheckpoint with no lineage back to the keys), so another
    call's materialization and release cannot touch it, and a plan
    compiled over it afterwards reads the same ids."""
    rows_a = spark.range(500).select(
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("k")
    )
    ids_a = E.dense_ids(rows_a, "k", num_partitions=4)
    before = sorted((r.k, r.vertex_id) for r in ids_a.collect())
    assert sorted(v for _, v in before) == list(range(500))  # dense 0..N-1
    # a second call freezes and frees its own partitions
    rows_b = spark.range(300).select(
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("k")
    )
    E.dense_ids(rows_b, "k", num_partitions=4).count()
    # a plan COMPILED after the second call reads A's frozen table —
    # the ids must come out identical
    after = sorted(
        (r.k, r.vertex_id)
        for r in ids_a.join(ids_a.select("k"), "k", "left_semi").collect()
    )
    assert after == before
