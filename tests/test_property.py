"""Property-based tests (hypothesis): random small inputs vs the trusted
Python oracles in reference_impl.py. Complements the fixed golden
fixtures — these explore tie-breaks, session boundaries, singleton and
disconnected shapes the fixtures don't."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sharetrace_giraph_spark.operators import edges as E

from .reference_impl import cc_py, derive_contacts_py

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (conv 0-2, role a-d, ts 0..3600 at 60s grid — collisions and session
# gaps both likely)
turn_strategy = st.tuples(
    st.integers(0, 2),
    st.sampled_from(["a", "b", "c", "d"]),
    st.integers(0, 60).map(lambda m: m * 60),
)


@given(st.lists(turn_strategy, min_size=1, max_size=40), st.sampled_from([0, 300]))
@settings(**_SETTINGS)
def test_derive_contacts_matches_python_oracle(spark, raw, threshold):
    # threshold 0 (the driver's) is the boundary: the in-expansion overlap
    # test must drop negative overlaps and keep zero-length ones.
    # assign dense turn_idx per conv in (ts, role) order — any total order
    # works, sessionization only depends on the ts sequence
    by_conv: dict = {}
    for conv, role, ts in raw:
        by_conv.setdefault(conv, []).append((ts, role))
    rows = []
    for conv, turns in by_conv.items():
        for idx, (ts, role) in enumerate(sorted(turns)):
            rows.append((f"c{conv}", idx, role, ts))

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts_s long"
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")

    got = {
        (r.src, r.dst): sorted(
            (int(o.time.timestamp()), o.duration_ms) for o in r.occurrences
        )
        for r in E.derive_contacts(
            df, duration_threshold_s=threshold, session_gap_s=600
        ).collect()
    }
    exp = derive_contacts_py(rows, duration_threshold_s=threshold, session_gap_s=600)
    assert got == exp


@given(
    st.sets(st.text(alphabet="abcdefg0123", min_size=1, max_size=6), max_size=40),
    st.sampled_from([None, 64]),
)
# the empty key set, and more range partitions than keys (some empty)
@example(keys=set(), num_partitions=None)
@example(keys={"a", "b0", "c12"}, num_partitions=64)
@settings(**_SETTINGS)
def test_dense_ids_are_rank_order(spark, keys, num_partitions):
    df = spark.createDataFrame([(k,) for k in keys], "role string")
    ids = E.dense_ids(df, "role", num_partitions=num_partitions)
    got = sorted((r.vertex_id, r.role) for r in ids.collect())
    assert got == [(i, k) for i, k in enumerate(sorted(keys))]


edge_strategy = st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1])


@given(st.sets(edge_strategy, min_size=1, max_size=20))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_connected_components_exact_on_random_graphs(spark, tmp_path_factory, raw_edges):
    from sharetrace_giraph_spark.algorithms import connected_components

    canon = {(min(u, v), max(u, v)) for u, v in raw_edges}
    verts_py = sorted({v for e in canon for v in e})
    edges = spark.createDataFrame(sorted(canon), "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in verts_py], "vertex_id long")

    ckpt = str(tmp_path_factory.mktemp("cc-prop"))
    res = connected_components(
        spark, E.undirect(edges), verts, ckpt, run_id="p", max_supersteps=20, resume=False
    )
    got = {r.vertex_id: r.comp for r in res.state.collect()}
    exp = cc_py(sorted(canon), verts_py)
    assert got == exp
    assert res.converged


@given(st.sets(edge_strategy, min_size=1, max_size=20), st.integers(1, 4))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_bfs_and_kcore_exact_on_random_graphs(spark, tmp_path_factory, raw_edges, k):
    """BFS distances and k-core membership on random graphs vs the Python
    oracles; random shapes cover disconnected pieces, cascades, and
    sentinel handling the fixtures don't."""
    from sharetrace_giraph_spark.algorithms import UNREACHED, bfs, k_core
    from .reference_impl import bfs_py, k_core_py

    canon = {(min(u, v), max(u, v)) for u, v in raw_edges}
    verts_py = sorted({v for e in canon for v in e})
    edges = spark.createDataFrame(sorted(canon), "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in verts_py], "vertex_id long")
    und = E.undirect(edges)

    ckpt = str(tmp_path_factory.mktemp("bk-prop"))
    seed = verts_py[0]
    bres = bfs(spark, und, verts, spark.createDataFrame([(seed,)], "vertex_id long"),
               ckpt, run_id="pb", max_supersteps=30, resume=False)
    got_b = {r.vertex_id: r.dist for r in bres.state.collect() if r.dist < UNREACHED}
    assert got_b == bfs_py(sorted(canon), verts_py, [seed])
    assert bres.converged

    kres = k_core(spark, und, verts, k, ckpt, run_id="pk",
                  max_supersteps=30, resume=False)
    got_k = {r.vertex_id for r in kres.state.collect() if r.alive == 1}
    assert got_k == k_core_py(sorted(canon), verts_py, k)
    assert kres.converged


@given(st.sets(edge_strategy, min_size=3, max_size=20))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_clustering_and_jaccard_exact_on_random_graphs(spark, raw_edges):
    """Local clustering coefficient and per-edge Jaccard vs adjacency-set
    oracles on random graphs — covers hub/triangle-free/near-clique shapes."""
    from sharetrace_giraph_spark.algorithms import clustering_coefficient, edge_jaccard

    canon = {(min(u, v), max(u, v)) for u, v in raw_edges}
    verts_py = sorted({v for e in canon for v in e})
    edges = spark.createDataFrame(sorted(canon), "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in verts_py], "vertex_id long")

    adj = {}
    for u, v in canon:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    got_c = {r.vertex_id: (r.deg, r.n_triangles, r.lcc)
             for r in clustering_coefficient(spark, edges, verts).collect()}
    for v in verts_py:
        d = len(adj[v])
        t = sum(1 for a in adj[v] for b in adj[v] if a < b and b in adj.get(a, set()))
        exp_lcc = (2.0 * t / (d * (d - 1))) if d >= 2 else 0.0
        assert got_c[v][0] == d and got_c[v][1] == t, v
        assert abs(got_c[v][2] - exp_lcc) < 1e-12, v

    got_j = {(r.src, r.dst): (r.n_common, r.jaccard)
             for r in edge_jaccard(edges).collect()}
    assert set(got_j) == canon
    for (u, v), (nc, jac) in got_j.items():
        inter = len(adj[u] & adj[v])
        union = len(adj[u] | adj[v])
        assert nc == inter, (u, v)
        assert abs(jac - inter / union) < 1e-12, (u, v)


# directed weighted edge: small vertex space forces parallel edges /
# alternative routes; weights 1..9 make detour-vs-direct ties plausible
wedge_strategy = st.tuples(
    st.integers(0, 7), st.integers(0, 7), st.integers(1, 9)
).filter(lambda e: e[0] != e[1])


@given(st.sets(wedge_strategy, min_size=1, max_size=25), st.integers(1, 3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_sssp_exact_on_random_weighted_graphs(spark, tmp_path_factory, raw, n_src):
    """Frontier min-plus relaxation vs Dijkstra on random directed
    weighted graphs — exercises parallel (u,v,w1)/(u,v,w2) edges (min
    kept), multi-source merging, and unreachable vertices."""
    from sharetrace_giraph_spark.algorithms import UNREACHED, shortest_paths
    from .reference_impl import sssp_py

    wedges = sorted(raw)
    verts_py = sorted({v for u, v, _ in wedges for v in (u, v)})
    e = spark.createDataFrame(wedges, "src long, dst long, w long")
    verts = spark.createDataFrame([(v,) for v in verts_py], "vertex_id long")
    srcs = verts_py[:n_src]
    seed = spark.createDataFrame([(s,) for s in srcs], "vertex_id long")

    ckpt = str(tmp_path_factory.mktemp("sssp-prop"))
    res = shortest_paths(spark, e, verts, seed, ckpt, run_id="ps",
                         max_supersteps=30, resume=False)
    got = {r.vertex_id: r.dist for r in res.state.collect() if r.dist < UNREACHED}
    assert got == sssp_py(wedges, verts_py, srcs)
    assert res.converged


quote_strategy = st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99))
probe_strategy = st.tuples(st.integers(0, 3), st.integers(0, 20))


@given(st.lists(quote_strategy, min_size=0, max_size=25),
       st.lists(probe_strategy, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_asof_join_matches_python_oracle(spark, quotes, probes):
    """union+window as-of join vs a brute-force oracle — random data makes
    duplicate (key, ts) quotes (max-struct dedup), equal-ts probe/quote
    collisions (inclusive), and quoteless keys (probe key space is a
    strict superset of the quote key space) all likely."""
    from sharetrace_giraph_spark.operators.asof import asof_join

    q = spark.createDataFrame(
        [(f"k{k}", t, v) for k, t, v in quotes] or [("__none__", 0, 0)],
        "user string, ts long, value long",
    )
    if not quotes:
        q = q.where(F.col("user") != "__none__")
    p = spark.createDataFrame(
        [(i, f"k{k}", t) for i, (k, t) in enumerate(probes)],
        "pid long, user string, ts long",
    )

    best: dict = {}
    for k, t, v in quotes:
        key = (f"k{k}", t)
        best[key] = max(best.get(key, v), v)  # max over the value struct
    exp = {}
    for i, (k, t) in enumerate(probes):
        cand = [(qt, v) for (qk, qt), v in best.items() if qk == f"k{k}" and qt <= t]
        exp[i] = max(cand) if cand else (None, None)

    got = {r.pid: (r.asof_ts, r.asof_value)
           for r in asof_join(p, q, on="user", value_cols=("value",)).collect()}
    assert got == exp


# unordered contact pair over 6 actors + 1-3 occurrence slots
_pair_st = st.tuples(st.integers(0, 5), st.integers(0, 5)).filter(lambda p: p[0] != p[1])
_occ_st = st.tuples(st.integers(0, 20), st.integers(1, 4))  # (half-day slot, dur units)
_DAY0 = 18000 * 86400


@given(
    st.dictionaries(_pair_st, st.lists(_occ_st, min_size=1, max_size=3),
                    min_size=1, max_size=8),
    st.integers(0, 1 << 16),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_risk_propagation_exact_on_random_graphs(spark, tmp_path_factory, raw, salt):
    """The flagship BP loop vs the dict oracle on random contact graphs
    and score histories — random cutoffs/histories explore the F3
    strict-recency boundary (score time == cutoff), F5 echo suppression
    on multi-edge actors, and natural-vs-output comparator divergence
    beyond what the fixed fixtures cover. Values asserted bit-equal
    (identical multiplication paths)."""
    import pyspark.sql.functions as F

    from sharetrace_giraph_spark.algorithms import final_scores, risk_propagation
    from .reference_impl import risk_prop_py

    contacts_py: dict = {}
    for (a, b), occs in raw.items():
        key = (f"a{min(a, b)}", f"a{max(a, b)}")
        cur = contacts_py.setdefault(key, set())
        cur.update((_DAY0 + slot * 43200, dur * 60000) for slot, dur in occs)
    contacts_py = {k: sorted(v) for k, v in contacts_py.items()}

    actors = sorted({a for pair in contacts_py for a in pair})
    # 1-2 scores per actor on a 6h grid (== and < vs the 12h cutoffs both
    # reachable), values on the 0.01 grid
    scores_py = {
        a: [
            (
                _DAY0 + ((salt + i * 7 + idx * 13) % 44) * 21600,
                round(((salt * 31 + i * 17 + idx * 7) % 100) / 100.0, 2),
            )
            for i in range(1 + (salt + idx) % 2)
        ]
        for idx, a in enumerate(actors)
    }

    contacts = spark.createDataFrame(
        [(s, d, [(t, m) for t, m in occs]) for (s, d), occs in contacts_py.items()],
        "src string, dst string, occ array<struct<s: long, d: long>>",
    ).select(
        "src", "dst",
        F.transform(
            "occ",
            lambda o: F.struct(
                F.timestamp_seconds(o["s"]).alias("time"),
                o["d"].alias("duration_ms"),
            ),
        ).alias("occurrences"),
    )
    scores = spark.createDataFrame(
        [(a, t, v) for a, hist in scores_py.items() for t, v in hist],
        "id string, update_time long, value double",
    ).withColumn("update_time", F.timestamp_seconds("update_time"))

    ckpt = str(tmp_path_factory.mktemp("rp-prop"))
    res = risk_propagation(spark, contacts, scores, ckpt, run_id="pr",
                           transmission_rate=0.75, resume=False)
    exp_state, exp_out = risk_prop_py(contacts_py, scores_py, transmission_rate=0.75)

    got_state = {
        r.vertex_id: {(int(s.update_time.timestamp()), s.value, s.origin_id)
                      for s in r.scores}
        for r in res.state.collect()
    }
    assert got_state == exp_state
    got_out = {
        r.vertex_id: (r.value, int(r.update_time.timestamp()))
        for r in final_scores(res.state).collect()
    }
    assert got_out == exp_out
