"""The session's codegen cache holds the engine's working set: a pipeline
run a second time in the same session compiles no generated class (Spark's
default cache of 100 classes is smaller than one graph run's working set,
so every repeat run recompiled most of its operators)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sharetrace_giraph_spark import datagen
from sharetrace_giraph_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    risk_propagation,
    triangles,
)
from sharetrace_giraph_spark.operators import edges as E
from sharetrace_giraph_spark.plans.cache import release
from sharetrace_giraph_spark.session import codegen_compilations


def _pipeline(spark, ckpt: str, run_id: str) -> tuple:
    """Transcripts → contacts → ids → PageRank, CC, LPA and triangles,
    plus risk propagation on the reference fixture; returns its results."""
    t = datagen.generate_transcripts(
        spark, n_convs=100, turns_per_conv=12, n_actors=30,
        n_communities=3, n_hubs=1, seed=13,
    )
    contacts = E.derive_contacts(t).persist()
    try:
        verts = E.vertex_ids(contacts)
        enc = E.encode_edges(contacts, verts)
        und = E.undirect(enc)
        pr = pagerank(spark, und, verts, ckpt, run_id=run_id, max_supersteps=3,
                      tolerance=0.0, checkpoint_every=2)
        cc = connected_components(spark, und, verts, ckpt, run_id=run_id, checkpoint_every=2)
        lpa = label_propagation(spark, und, verts, ckpt, run_id=run_id,
                                max_supersteps=2, checkpoint_every=2)
        n_tri, per_vertex = triangles(spark, enc, verts)
        vertices = (
            verts.join(pr.state.select("vertex_id", F.round("rank", 9).alias("rank")), "vertex_id")
            .join(cc.state.select("vertex_id", "comp"), "vertex_id")
            .join(lpa.state.select("vertex_id", "label"), "vertex_id")
            .join(per_vertex, "vertex_id")
            .collect()
        )
    finally:
        contacts.unpersist()
    fixture = E.derive_contacts(datagen.tiny_fixture_transcripts(spark))
    rp = risk_propagation(spark, fixture, datagen.tiny_fixture_scores(spark), ckpt,
                          run_id=run_id)
    return n_tri, sorted(vertices), sorted(rp.state.collect())


def test_repeat_run_compiles_no_class(spark, tmp_path):
    """The second of two identical runs compiles 0 classes, under the
    session's own AQE setting: every join of a repeat run plans as it did
    the first time (the triangle closing-edge join too, since the
    oriented table it reads is materialized before it is planned)."""
    try:
        first = _pipeline(spark, str(tmp_path / "a"), "first")
        before = codegen_compilations(spark)
        second = _pipeline(spark, str(tmp_path / "b"), "second")
        compiled = codegen_compilations(spark) - before
    finally:
        release()  # the wedge frames and loop inputs the pipeline holds
    assert compiled == 0
    assert second == first
