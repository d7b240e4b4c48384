"""S1/S2 JSON-lines I/O parity: the engine reads a reference-format
factor-graph file and reproduces the BP pipeline from it, then round-trips
the S2 output.

``tests/fixtures/input.txt`` is a RECONSTRUCTION, not the reference's own
bytes: the 4-user topology and score histories the reference's
``java/input.txt`` carries (``datagen.FIXTURE_EDGES``/``FIXTURE_SCORES``),
written in the wire shape ``sources/jsonlines.py`` and SURVEY §1 document —
one FACTOR/VARIABLE vertex per line, times and durations as decimal epoch
seconds (``"time":18412.000000000``)."""

from __future__ import annotations

import os

import pytest

from sharetrace_giraph_spark.algorithms import final_scores, risk_propagation
from sharetrace_giraph_spark.sources import jsonlines

from .reference_impl import risk_prop_py

REF_INPUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "input.txt")


@pytest.fixture(scope="module")
def parsed(spark):
    return jsonlines.read_factor_graph(spark, REF_INPUT)


def test_reads_reference_fixture_shape(parsed):
    contacts, scores = parsed
    pairs = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in contacts.collect()
    }
    # FACTOR lines 1-4 — epoch-day-valued decimal seconds, durations 1200..4800 s
    assert pairs == {
        ("1", "2"): [(18412, 1_200_000)],
        ("1", "4"): [(18413, 1_800_000)],
        ("2", "4"): [(18414, 4_800_000)],
        ("3", "4"): [(18415, 3_600_000)],
    }
    rows = scores.collect()
    assert len(rows) == 16  # 4 actors x 4 scores (VARIABLE lines 5-8)
    assert {r.id for r in rows} == {"1", "2", "3", "4"}
    vals = {(r.id, int(r.update_time.timestamp()), r.value) for r in rows}
    assert ("2", 18412, 1.0) in vals and ("1", 18415, 0.2) in vals


def test_bp_from_reference_file_matches_oracle(spark, ckpt, parsed):
    contacts, scores = parsed
    contacts_py = {
        (r.src, r.dst): [(int(o.time.timestamp()), o.duration_ms) for o in r.occurrences]
        for r in contacts.collect()
    }
    scores_py: dict = {}
    for r in scores.collect():
        scores_py.setdefault(r.id, []).append((int(r.update_time.timestamp()), r.value))

    res = risk_propagation(spark, contacts, scores, ckpt, run_id="jl", transmission_rate=1.0)
    _, exp_out = risk_prop_py(contacts_py, scores_py, transmission_rate=1.0)

    got = {
        r.vertex_id: (round(r.value, 12), int(r.update_time.timestamp()))
        for r in final_scores(res.state).collect()
    }
    assert got == {a: (round(v, 12), ut) for a, (v, ut) in exp_out.items()}


def test_s2_sink_round_trip(spark, ckpt, parsed, tmp_path):
    contacts, scores = parsed
    res = risk_propagation(spark, contacts, scores, ckpt, run_id="jl-rt", transmission_rate=1.0)
    out = final_scores(res.state)
    path = str(tmp_path / "scores-out")
    jsonlines.write_variable_scores(out, path)

    back = jsonlines.read_variable_scores(spark, path)
    a = {(r.vertex_id, int(r.update_time.timestamp()), round(r.value, 9)) for r in out.collect()}
    b = {(r.id, int(r.update_time.timestamp()), round(r.value, 9)) for r in back.collect()}
    assert a == b

    # wire shape: {"id":...,"updateTime":<decimal seconds>,"value":...}
    line = spark.read.text(path).where("length(value) > 0").first().value
    assert line.startswith('{"id":') and '"updateTime":' in line and '"value":' in line


def test_schema_drift_fails_loudly(spark, tmp_path):
    """PERMISSIVE parsing would silently drop a drifted line from both
    outputs; the reader must instead raise (reference strictness)."""
    p = tmp_path / "drift.txt"
    p.write_text('{"kind": "FACTOR", "payload": 1}\n')
    contacts, _ = jsonlines.read_factor_graph(spark, str(p))
    with pytest.raises(Exception, match="missing/unknown type|ASSERT|assert"):
        contacts.count()


def test_malformed_json_fails_loudly(spark, tmp_path):
    p = tmp_path / "malformed.txt"
    p.write_text('{"type": "FACTOR", not json at all\n')
    contacts, _ = jsonlines.read_factor_graph(spark, str(p))
    with pytest.raises(Exception):
        contacts.count()


def test_read_holds_one_parse_until_release(spark):
    """The parsed lines both outputs read are held under one owner
    (``plans/cache``): a second read frees the first's, and ``release()``
    frees the last, so no persisted RDD outlives the read."""
    from sharetrace_giraph_spark.plans.cache import release

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    release()
    base = persisted()
    for _ in range(2):
        contacts, scores = jsonlines.read_factor_graph(spark, REF_INPUT)
        assert contacts.count() == 4 and scores.count() == 16
    assert persisted() == base + 1
    release()
    assert persisted() == base
