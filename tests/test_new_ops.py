"""Golden/unit tests for round-2 additions: weighted SSSP, the as-of
join operator, and tf-idf top terms."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from sharetrace_giraph_spark.algorithms import UNREACHED, shortest_paths
from sharetrace_giraph_spark.operators import edges as E
from sharetrace_giraph_spark.operators.asof import asof_join
from sharetrace_giraph_spark.operators.text import tfidf_top_terms

from .reference_impl import sssp_py


@pytest.fixture(scope="module")
def medium_graph(spark):
    from sharetrace_giraph_spark import datagen

    t = datagen.generate_transcripts(
        spark, n_convs=300, turns_per_conv=12, n_actors=60,
        n_communities=6, n_hubs=2, seed=13,
    )
    contacts = E.derive_contacts(t)
    verts = E.vertex_ids(contacts)
    enc = E.encode_edges(contacts, verts).persist()
    edge_list = [(r.src, r.dst) for r in enc.collect()]
    return contacts, verts, enc, edge_list


# ---------------------------------------------------------------------------
# SSSP
# ---------------------------------------------------------------------------


def _und(wedges):
    return wedges + [(v, u, w) for u, v, w in wedges]


def test_sssp_prefers_cheap_multi_hop_path(spark, ckpt):
    """The defining semantic vs BFS: a heavy direct edge loses to a light
    two-hop detour (0-1 direct cost 100; 0-2-1 cost 2)."""
    wedges = [(0, 1, 100), (0, 2, 1), (2, 1, 1), (1, 3, 5)]
    e = spark.createDataFrame(_und(wedges), "src long, dst long, w long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex_id long")
    seed = spark.createDataFrame([(0,)], "vertex_id long")
    res = shortest_paths(spark, e, verts, seed, ckpt, run_id="sp-detour",
                         max_supersteps=20)
    assert res.converged
    got = {r.vertex_id: r.dist for r in res.state.collect()}
    assert got == {0: 0, 1: 2, 2: 1, 3: 7}


def test_sssp_matches_dijkstra_and_unreached(spark, medium_graph, ckpt):
    """Golden vs Dijkstra on the 60-actor community graph with
    deterministic synthetic weights; an isolated extra vertex stays at
    the sentinel."""
    _, verts, enc, edge_list = medium_graph
    wedges = [(u, v, (u * 7 + v * 13) % 97 + 1) for u, v in edge_list]
    dir_edges = _und(wedges)
    e = spark.createDataFrame(dir_edges, "src long, dst long, w long")
    extra = verts.select("vertex_id").unionByName(
        spark.createDataFrame([(10**6,)], "vertex_id long")
    )
    seed = spark.createDataFrame([(0,)], "vertex_id long")
    res = shortest_paths(spark, e, extra, seed, ckpt, run_id="sp-med",
                         max_supersteps=100)
    assert res.converged
    rows = res.state.collect()
    got = {r.vertex_id: r.dist for r in rows if r.dist < UNREACHED}
    vs = sorted({x for u, v in edge_list for x in (u, v)})
    assert got == sssp_py(dir_edges, vs, [0])
    assert {r.vertex_id for r in rows if r.dist >= UNREACHED} >= {10**6}


def test_sssp_kill_resume(spark, tmp_path, ckpt):
    """Mid-run state survives: run 3 supersteps, then resume to the
    fixed point from the checkpoint and match a fresh full run."""
    wedges = [(i, i + 1, i + 1) for i in range(9)]
    e = spark.createDataFrame(_und(wedges), "src long, dst long, w long")
    verts = spark.createDataFrame([(i,) for i in range(10)], "vertex_id long")
    seed = spark.createDataFrame([(0,)], "vertex_id long")
    part = shortest_paths(spark, e, verts, seed, str(tmp_path / "a"),
                          run_id="sp-kr", max_supersteps=3)
    assert not part.converged
    res = shortest_paths(spark, e, verts, seed, str(tmp_path / "a"),
                         run_id="sp-kr", max_supersteps=50, resume=True)
    assert res.converged
    got = {r.vertex_id: r.dist for r in res.state.collect()}
    assert got == {i: sum(range(1, i + 1)) for i in range(10)}


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def _ts(s):
    return f"2024-01-01 00:00:{s:02d}"


def test_asof_join_semantics(spark):
    """Inclusive backward match, no-quote-yet → null, equal-ts quote
    matches, duplicate quotes at one (key, ts) reduce to the max value."""
    probes = spark.createDataFrame(
        [(1, "a", _ts(5)), (2, "a", _ts(10)), (3, "a", _ts(2)),
         (4, "b", _ts(30)), (5, "c", _ts(30))],
        "event_id long, user string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [("a", _ts(5), 1.0), ("a", _ts(8), 2.0),
         ("b", _ts(30), 3.0), ("b", _ts(30), 4.0)],
        "user string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    res = asof_join(probes, quotes, on="user", value_cols=("value",))
    got = {r.event_id: r.asof_value for r in res.collect()}
    assert got[1] == 1.0      # equal ts → inclusive
    assert got[2] == 2.0      # most recent prior
    assert got[3] is None     # before any quote
    assert got[4] == 4.0      # dup quotes at same ts → max value wins
    assert got[5] is None     # key with no quotes at all
    # probe columns survive untouched
    assert set(res.columns) == {"event_id", "user", "ts", "asof_ts", "asof_value"}


def test_asof_join_matches_bruteforce(spark):
    """Randomized cross-check vs the quadratic definition."""
    import random

    rnd = random.Random(7)
    probes = [(i, f"u{rnd.randrange(5)}", rnd.randrange(100)) for i in range(200)]
    quotes = [(f"u{rnd.randrange(5)}", rnd.randrange(100), float(i)) for i in range(80)]
    p = spark.createDataFrame(
        [(i, u, _ts(0),) for i, u, _ in probes], "event_id long, user string, ts string"
    )
    # seconds offsets via timestamp arithmetic keeps types honest
    p = spark.createDataFrame(
        [(i, u, s) for i, u, s in probes], "event_id long, user string, sec long"
    ).select("event_id", "user",
             F.timestamp_seconds(F.col("sec") + 1700000000).alias("ts"))
    q = spark.createDataFrame(quotes, "user string, sec long, value double").select(
        "user", F.timestamp_seconds(F.col("sec") + 1700000000).alias("ts"), "value"
    )
    got = {r.event_id: r.asof_value
           for r in asof_join(p, q, on="user", value_cols=("value",)).collect()}
    # brute force: per probe, max (ts, value) among quotes with ts <= probe ts
    best = {}
    for i, u, s in probes:
        cands = [(qs, v) for qu, qs, v in quotes if qu == u and qs <= s]
        best[i] = max(cands)[1] if cands else None
    assert got == best


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_top_terms_hand_checked(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        "doc_id long, text string",
    )
    res = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in res:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 df=1 → 2*ln(3); banana tf=1 df=2 → ln(1.5)
    d1 = by_doc[1]
    assert [r.term for r in d1] == ["apple", "banana"]
    assert d1[0].tfidf == pytest.approx(2 * math.log(3), abs=1e-6)
    assert d1[0].tf == 2 and d1[0].df == 1
    # doc 3: date tf=1 df=1 → ln(3) ≈ 1.099 beats cherry tf=2 df=2 →
    # 2*ln(1.5) ≈ 0.811
    d3 = by_doc[3]
    assert [r.term for r in d3] == ["date", "cherry"]
    assert d3[0].tfidf == pytest.approx(math.log(3), abs=1e-6)
    assert d3[1].tfidf == pytest.approx(2 * math.log(1.5), abs=1e-6)
    # rank is dense per doc starting at 1
    assert all([r.rank for r in by_doc[d]] == [1, 2] for d in by_doc)


# ---------------------------------------------------------------------------
# reply edges + dangling-mass PageRank
# ---------------------------------------------------------------------------


def test_reply_edges_hand_checked(spark):
    """Adjacent-turn speaker changes become directed edges with
    multiplicity; same-speaker runs and conversation boundaries don't."""
    rows = [
        # conv c1: a, b, b, a, c  → a→b, b→a, a→c
        ("c1", 0, "a"), ("c1", 1, "b"), ("c1", 2, "b"), ("c1", 3, "a"), ("c1", 4, "c"),
        # conv c2: c, a  → c→a  (no edge across the conv boundary)
        ("c2", 0, "c"), ("c2", 1, "a"),
        # conv c3: b alone → nothing
        ("c3", 0, "b"),
    ]
    t = spark.createDataFrame(
        [(c, i, r) for c, i, r in rows], "conv_id string, turn_idx int, role string"
    ).select(
        "conv_id", "turn_idx", "role",
        F.timestamp_seconds(F.lit(1700000000) + F.col("turn_idx")).alias("ts"),
    )
    got = {(r.src, r.dst): r.n_replies for r in E.reply_edges(t).collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("a", "c"): 1, ("c", "a"): 1}


def test_pagerank_dangling_mass_golden(spark, ckpt):
    """Directed chain 0→1→2 plus an isolated vertex 3: vertices 2 and 3
    have no out-edges, so the dangling branch carries real mass. Golden
    vs the dict reference (which redistributes dangling uniformly), and
    total mass stays 1."""
    from sharetrace_giraph_spark.algorithms import pagerank

    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex_id long")
    res = pagerank(spark, e, verts, ckpt, run_id="pr-dang",
                   tolerance=1e-10, max_supersteps=200)
    assert res.converged
    got = {r.vertex_id: r.rank for r in res.state.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # inline directed fixed point (pagerank_py is undirected-only):
    # r(v) = (1-d)/n + d*(in-contribs + dangling/n), dangling = r(2)+r(3)
    d, n = 0.85, 4
    r = {v: 1.0 / n for v in range(4)}
    for _ in range(500):
        dang = r[2] + r[3]
        r = {
            0: (1 - d) / n + d * dang / n,
            1: (1 - d) / n + d * (r[0] + dang / n),
            2: (1 - d) / n + d * (r[1] + dang / n),
            3: (1 - d) / n + d * dang / n,
        }
    for v in r:
        assert abs(got[v] - r[v]) < 1e-6, (v, got[v], r[v])
    # ranks are distinct and ordered 2 > 1 > 0 == 3 (mass accumulates
    # down the chain; the isolated vertex matches the chain head)
    assert got[2] > got[1] > got[0]
    assert abs(got[0] - got[3]) < 1e-9


def test_lang_id_tie_breaks_to_smallest_language(spark):
    """Engine-wide tie convention (same as LPA): max stopword hits, ties
    to the lexicographically SMALLEST language; 'und' only on zero hits."""
    from sharetrace_giraph_spark.operators.text import lang_id

    docs = spark.createDataFrame(
        [
            (1, "the der x"),      # en 1 vs de 1 -> tie -> de (de < en)
            (2, "le der x"),       # fr 1 vs de 1 -> de
            (3, "the le x"),       # en 1 vs fr 1 -> en
            (4, "the the der x"),  # en 2 beats de 1 -> en
            (5, "xyzzy plugh"),    # no hits -> und
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.lang_pred, r.stopword_hits) for r in lang_id(docs).collect()}
    assert got == {
        1: ("de", 1), 2: ("de", 1), 3: ("en", 1), 4: ("en", 2), 5: ("und", 0)
    }


def test_asof_join_rejects_reserved_columns(spark):
    """Inputs carrying the operator's internal column names must raise
    instead of silently corrupting the union/window plumbing."""
    import pytest as _pytest

    from sharetrace_giraph_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 5)], "k long, ts long, _side long")
    right = spark.createDataFrame([(1, 9, 1.0)], "k long, ts long, value double")
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="k")
    left_ok = spark.createDataFrame([(1, 10)], "k long, ts long")
    right_bad = spark.createDataFrame([(1, 9, 1.0)], "k long, ts long, _quote double")
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left_ok, right_bad, on="k")
