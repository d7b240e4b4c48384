"""Risk propagation (the reference BP semantics) vs the dict oracle on
the transplanted /root/reference/java/input.txt fixture."""

from __future__ import annotations

import pytest

from sharetrace_giraph_spark import datagen
from sharetrace_giraph_spark.algorithms import final_scores, risk_propagation
from sharetrace_giraph_spark.operators import edges as E

from .reference_impl import risk_prop_py


@pytest.fixture(scope="module")
def fixture_inputs(spark):
    t = datagen.tiny_fixture_transcripts(spark)
    contacts = E.derive_contacts(t).persist()
    scores = datagen.tiny_fixture_scores(spark)
    contacts_py = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in contacts.collect()
    }
    scores_py = {
        a: [(day * 86400, v) for day, v in hist]
        for a, hist in datagen.FIXTURE_SCORES.items()
    }
    return contacts, scores, contacts_py, scores_py


@pytest.mark.parametrize("rate", [1.0, 0.8])
def test_risk_propagation_matches_oracle(spark, ckpt, fixture_inputs, rate):
    contacts, scores, contacts_py, scores_py = fixture_inputs
    res = risk_propagation(
        spark, contacts, scores, ckpt, run_id=f"rp-{rate}", transmission_rate=rate
    )
    exp_state, exp_out = risk_prop_py(contacts_py, scores_py, transmission_rate=rate)

    got_state = {
        r.vertex_id: {
            (int(s.update_time.timestamp()), round(s.value, 12), s.origin_id)
            for s in r.scores
        }
        for r in res.state.collect()
    }
    exp_state_rounded = {
        a: {(ut, round(val, 12), o) for ut, val, o in ss} for a, ss in exp_state.items()
    }
    assert got_state == exp_state_rounded

    out = {
        r.vertex_id: (round(r.value, 12), int(r.update_time.timestamp()))
        for r in final_scores(res.state).collect()
    }
    exp_out_rounded = {a: (round(v, 12), ut) for a, (v, ut) in exp_out.items()}
    assert out == exp_out_rounded


def test_risk_propagation_semantics_sanity(spark, ckpt, fixture_inputs):
    """Hand-checked semantics: A1 relays the max under NATURAL order
    (update_time first, AbstractRiskScore.java:57-67), i.e. the most
    *recent* admissible score, not the highest value. Actor 2's admissible
    scores toward 4 (contact cutoff day 18414) are (18412, 1.0) and
    (18413, 0.7) → the relay is 0.7; actor 4's final output value is
    max(own 0.6, incoming 0.7) = 0.7 under the OUTPUT (value-first)
    comparator. Actor 2 keeps its own 1.0."""
    contacts, scores, *_ = fixture_inputs
    res = risk_propagation(spark, contacts, scores, ckpt, run_id="rp-sanity")
    out = {r.vertex_id: r.value for r in final_scores(res.state).collect()}
    assert out["2"] == 1.0
    assert out["4"] == 0.7


def test_risk_propagation_medium_graph_matches_oracle(spark, ckpt):
    """Fidelity beyond the 4-vertex fixture: a 24-actor community graph
    with multi-occurrence contacts and hub bridging, exact vs the dict
    oracle (values bit-equal — same multiplication path both sides)."""
    t = datagen.generate_transcripts(
        spark, n_convs=60, turns_per_conv=16, n_actors=24, n_communities=3,
        n_hubs=2, seed=77,
    )
    contacts = E.derive_contacts(t).persist()
    contacts_py = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in contacts.collect()
    }
    actors = sorted({a for pair in contacts_py for a in pair})
    # deterministic synthetic score histories, generated ONCE python-side
    scores_py = {
        a: [
            (datagen.FIXTURE_DAY0 + (i + 3) * 43200, round(((i * 37 + j * 11) % 100) / 100.0, 2))
            for j, i in enumerate([int(a[-2:]) % 7, int(a[-2:]) % 7 + 2])
        ]
        for a in actors
    }
    rows = [
        (a, ut, v) for a, hist in scores_py.items() for ut, v in hist
    ]
    scores = spark.createDataFrame(
        rows, "id string, update_time long, value double"
    ).selectExpr("id", "timestamp_seconds(update_time) AS update_time", "value")

    res = risk_propagation(
        spark, contacts, scores, ckpt, run_id="rp-med", transmission_rate=0.75,
        max_supersteps=5,
    )
    exp_state, exp_out = risk_prop_py(contacts_py, scores_py, transmission_rate=0.75)

    got_out = {
        r.vertex_id: (r.value, int(r.update_time.timestamp()))
        for r in final_scores(res.state).collect()
    }
    assert got_out == {a: (v, ut) for a, (v, ut) in exp_out.items()}

    got_state = {
        r.vertex_id: {(int(s.update_time.timestamp()), s.value, s.origin_id) for s in r.scores}
        for r in res.state.collect()
    }
    assert got_state == exp_state
    contacts.unpersist()


def test_risk_prop_driver_scale_invariants(spark, ckpt):
    """Full pipeline at driver-data scale (sf0.01: 150 actors, ~10.6k
    contact pairs — the BeliefPropagationRunner production-path analog):
    events → synthetic scores → contacts → 5 BP supersteps. Structural
    invariants that must hold regardless of graph shape:

    - score sets only GROW (A2 union-merge never removes), so each
      vertex's final max value >= its initial value;
    - every relayed value is a prior value scaled by rate <= 1, so no
      final value exceeds the global initial max;
    - the vertex set is preserved exactly;
    - the driver ran the full 5 supersteps (tolerance 0) and produced
      per-superstep metrics with positive message counts.
    """
    import pyspark.sql.functions as F

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.01"
    t = em.transcripts_from_events(spark, sf)
    contacts = E.derive_contacts(t, duration_threshold_s=0, session_gap_s=6 * 3600).persist()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    scores = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("update_time"))
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("id"),
            "update_time",
            F.round(F.pmod(F.col("user_id"), F.lit(1000)) / 1000.0, 3).alias("value"),
        )
    ).persist()

    res = risk_propagation(
        spark, contacts, scores, ckpt, run_id="sf001",
        transmission_rate=0.8, max_supersteps=5, tolerance=0.0,
    )
    final = final_scores(res.state)

    init = {r.id: r.value for r in scores.collect()}
    got = {r.vertex_id: r.value for r in final.collect()}
    assert set(got) == set(init)  # vertex universe preserved
    gmax = max(init.values())
    for v, val in got.items():
        assert val >= init[v] - 1e-12, (v, val, init[v])  # monotone
        assert val <= gmax + 1e-12, (v, val)              # bounded by max initial

    # someone must have actually improved via messaging at this scale
    improved = sum(1 for v in got if got[v] > init[v] + 1e-12)
    assert improved > 0

    assert res.supersteps_run == 5 and not res.converged
    assert len(res.metrics) == 5
    assert all(m["messages"] > 0 for m in res.metrics)
    contacts.unpersist()
    scores.unpersist()


def test_no_incoming_default_divergence_is_output_neutral(spark, ckpt):
    """The documented divergence (risk_propagation.py module docstring,
    A3): the reference injects a 0.0 default score for vertices with no
    incoming messages (VariableVertexComputation.java:56-58), while the
    engine gives them delta 0 and an unchanged score set. This fixture
    PROVES the final max is unaffected on both no-incoming shapes:

    - ``c`` is isolated (no contacts at all);
    - ``e``'s only neighbor ``d`` has only a LATE score (update_time >=
      the contact cutoff), so F3 filters everything and ``e`` never
      receives a message.

    A side-by-side reference-variant replay WITH the default injection
    must produce the identical top-1 output for every vertex."""
    import datetime as dt

    import pyspark.sql.functions as F
    from collections import defaultdict

    T = dt.datetime(2021, 3, 1)

    def ts(days):
        return T + dt.timedelta(days=days)

    contacts = spark.createDataFrame(
        [
            ("a", "b", [(ts(5), 900_000)]),
            ("d", "e", [(ts(5), 900_000)]),
        ],
        "src string, dst string, "
        "occurrences array<struct<time: timestamp, duration_ms: long>>",
    )
    scores = spark.createDataFrame(
        [
            ("a", ts(1), 0.9),   # early, high — propagates to b
            ("b", ts(2), 0.1),
            ("c", ts(1), 0.5),   # isolated
            ("d", ts(9), 0.8),   # LATE: >= cutoff ts(5), F3 filters it
            ("e", ts(2), 0.2),
        ],
        "id string, update_time timestamp, value double",
    )

    res = risk_propagation(spark, contacts, scores, ckpt, run_id="rp-div",
                           transmission_rate=0.8)
    out = {r.vertex_id: (round(r.value, 12), r.update_time)
           for r in final_scores(res.state).collect()}
    state = {r.vertex_id: r for r in res.state.collect()}

    # no-incoming vertices: score sets unchanged, final = own initial max
    assert out["c"] == (0.5, ts(1))
    assert out["e"] == (0.2, ts(2))
    assert len(state["c"].scores) == 1 and state["c"].delta == 0.0
    assert len(state["e"].scores) == 1 and state["e"].delta == 0.0
    # the live path still propagated: b got a's relayed score
    assert out["b"] == (round(0.9 * 0.8, 12), ts(1))

    # reference-variant replay WITH the 0.0-default injection (the
    # reference's A1 defaults): identical output comparator winner
    edges = [("a", "b", ts(5)), ("b", "a", ts(5)),
             ("d", "e", ts(5)), ("e", "d", ts(5))]
    st = {
        "a": {(ts(1), 0.9, "a")}, "b": {(ts(2), 0.1, "b")},
        "c": {(ts(1), 0.5, "c")}, "d": {(ts(9), 0.8, "d")},
        "e": {(ts(2), 0.2, "e")},
    }
    for _ in range(5):
        incoming = defaultdict(set)
        for u, v, cutoff in edges:
            cand = [s for s in st[u] if s[2] != v and s[0] < cutoff]
            if cand:
                ut, val, origin = max(cand)
                incoming[v].add((ut, val * 0.8, origin))
        l1 = 0.0
        for v in st:  # EVERY vertex, defaults injected on no-incoming
            inc = incoming.get(v) or {(dt.datetime(1970, 1, 1), 0.0, v)}
            old = max(st[v])[1] if st[v] else 0.0
            l1 += abs(max(inc)[1] - old)
            st[v].update(inc)
        if l1 < 1e-5:
            break
    ref_out = {
        a: max(ss, key=lambda s: (s[1], s[0], s[2]))[:2][::-1]
        for a, ss in st.items()
    }
    assert {a: (round(v, 12), ut) for a, (v, ut) in ref_out.items()} == out


def test_run_graph_tolerance_reaches_risk_prop(spark, tmp_path, monkeypatch, capsys):
    """``jobs/run_graph.py --tolerance`` halts risk propagation as the
    reference halts BP on its threshold (``MasterComputer.java:24``): a
    tolerance above every L1 delta stops the run after superstep 0."""
    import json
    import os
    import runpy
    import sys

    from sharetrace_giraph_spark import session

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    job = runpy.run_path(os.path.join(repo, "jobs", "run_graph.py"))
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(sys, "argv", [
        "run_graph.py", "--algorithm", "risk_prop", "--no-resume",
        "--factor-graph-json", os.path.join(repo, "tests", "fixtures", "input.txt"),
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--output", str(tmp_path / "out"),
        "--tolerance", "1e9",
    ])
    job["main"]()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["converged"] and summary["supersteps"] == 1
