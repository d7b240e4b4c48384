"""Physical-plan discipline checks — the plans we want, not just plans
that pass (SURVEY §4, README "Execution-plan discipline").

These assert on ``explain`` output so a regression that silently
de-optimizes a hot path (lost pushdown, a single-partition global
exchange, a dropped broadcast) fails CI rather than a future bench run.
"""

from __future__ import annotations

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    """F1-analog predicate must land in the parquet scan (PushedFilters),
    and column pruning must shrink ReadSchema to the referenced columns."""
    plan = _plan(em.q_filtered_sum_pushdown(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]
    # projection pruning: o_orderpriority etc. are never read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_small_dim_join_broadcasts(spark):
    """The nation dim must broadcast, not shuffle both sides."""
    plan = _plan(em.q_join_agg_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_aggregation_has_partial_and_final(spark):
    """Map-side combine (Giraph combiner analog A5): the groupBy compiles
    to partial + final HashAggregate."""
    plan = _plan(em.q_groupby_multi_agg(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_vertex_ids_no_single_partition_exchange(spark):
    """Dense-id assignment at a PINNED multi-partition width keeps that
    width in the frozen id table: the range partitions are frozen once
    and every id is a projection over them, so no later exchange can
    coalesce the table to one partition (the assignment never plans a
    global ``row_number()``, the single-partition trap this engine
    avoids). The un-pinned path auto-sizes by row count and may
    legitimately collapse a tiny key set to one partition — that is the
    overhead fix, not the trap."""
    from sharetrace_giraph_spark.operators.edges import dense_ids

    df = spark.range(0, 1000).select(
        F.format_string("r%05d", F.col("id")).alias("role")
    )
    pinned = dense_ids(df, "role", num_partitions=8)
    assert pinned.rdd.getNumPartitions() == 8
    for ids in (pinned, dense_ids(df, "role")):
        # ids dense 0..N-1 in key order
        rows = ids.orderBy("vertex_id").collect()
        assert [r.vertex_id for r in rows] == list(range(1000))
        assert [r.role for r in rows] == [f"r{i:05d}" for i in range(1000)]


@pytest.mark.parametrize("builder", ["triangle_list", "square_pair_counts"])
def test_dense_ids_truncate_lineage_and_wedge_width(spark, builder):
    """Regression pins for the round-5 dense-id slowdown (BENCH.md
    'Round-5 late regression'):

    1. The default dense_ids path must hand consumers a bare scan of the
       materialized id table — NOT the assignment lineage. Every encode
       join references the id table twice, and AQE re-optimizes per
       query stage, so a leaked lineage multiplies driver-serial
       planning cost into every downstream action (measured ~2.5x the
       task time of a triangle count).
    2. The wedge joins' parallelism (triangles and squares) must be
       pinned by construction: the oriented table is hash-repartitioned
       on the wedge apex at the configured width, never inheriting a
       possibly-1-partition layout from whatever tiny cached relation
       the encode joins happened to stream.
    """
    from sharetrace_giraph_spark.algorithms import square_count
    from sharetrace_giraph_spark.algorithms.triangle_count import WEDGES, triangle_list
    from sharetrace_giraph_spark.operators.edges import dense_ids
    from sharetrace_giraph_spark.plans import cache

    df = spark.range(0, 500).select(
        F.format_string("r%05d", F.col("id")).alias("role")
    )
    ids = dense_ids(df, "role", num_partitions=4)
    # truncated: the analyzed plan is a single leaf (LogicalRDD scan),
    # with none of the assignment machinery visible to consumers
    analyzed = ids._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed
    for leaked in ("Window", "Join", "RepartitionByExpression"):
        assert leaked not in analyzed, f"lineage leaked a {leaked} node"

    edges = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(a + 1, 8)],
        "src long, dst long",
    )
    upstream = edges.repartition(1)  # worst-case upstream layout
    try:
        if builder == "triangle_list":
            assert triangle_list(upstream).count() == 56  # K8: C(8,3)
        else:
            assert square_count(upstream).first().n_squares == 210  # K8: 3·C(8,4)
        # one wedge set per call: [e, oriented, tri]; squares hold no tri
        held = cache.held[WEDGES]
        assert len(held) == (3 if builder == "triangle_list" else 2)
        oriented = held[1]
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert oriented.rdd.getNumPartitions() == width
    finally:
        cache.release(WEDGES)


def test_triangle_orientation_no_single_partition(spark):
    """Degree orientation compares (deg, id) structs — no global sort."""
    from sharetrace_giraph_spark.algorithms import triangles

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex_id long")
    _, per_vertex = triangles(spark, edges, verts)
    plan = _plan(per_vertex)
    assert "SinglePartition" not in plan
    assert "row_number" not in plan.lower()


def test_pagerank_superstep_plan_shape(pr_graph):
    """PageRank's real superstep (``_pr_step``) over its real cached
    inputs: the gather is an equi hash join against the cached transition
    edges, the message sum is THE one exchange, over its partial sum, and
    nothing funnels through a single partition."""
    step, init = pr_graph
    plan = _pin_step(step, init, exchanges=1, combined=1)
    assert "SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final message combine
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan  # cached edges


def test_derive_contacts_single_scan_two_shuffles(spark):
    """The pair expansion must evaluate the span pipeline ONCE (a
    self-join formulation plans it per join side — a double transcript
    scan at 100 TB) and shuffle exactly twice: once into conv_id windows,
    once into the (src, dst) merge. The overlap test runs inside the
    expansion, so pairs that fail it never become rows: the plan has no
    Filter operator (a post-explode test plans one above the Generate).

    The driver's events view is one more input: it clusters on conv_id
    once, at an explicit width, so its own turn_idx window (the third
    window there) and the sessionization share that one exchange, which
    AQE may not coalesce (REPARTITION_BY_NUM). A window over the
    conv_id expression plans a third exchange on it (``_w0``)."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.operators.edges import derive_contacts

    t = datagen.generate_transcripts(
        spark, n_convs=50, turns_per_conv=8, n_actors=20,
        n_communities=4, n_hubs=1, seed=3,
    )
    # sessionize = 2 fused-window ops (lag + running sum); doubled means
    # the span subtree got planned twice again
    for transcripts, max_windows in ((t, 2), (em.transcripts_from_events(spark, SF_DIR), 3)):
        plan = _plan(derive_contacts(transcripts))
        ops = [ln for ln in plan.splitlines() if ln.strip().startswith("(")]
        n_shuffle = sum(1 for ln in ops if "Exchange" in ln and "Broadcast" not in ln)
        n_window = sum(1 for ln in ops if "Window" in ln)
        assert n_shuffle <= 2, plan
        assert n_window <= max_windows, plan
        assert "Join" not in plan  # pair generation is a higher-order expansion
        assert not any("Filter" in ln for ln in ops), plan
        exchanges = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning(" in ln]
        assert not any("_w0" in ln for ln in exchanges), plan
        by_conv = [ln for ln in exchanges if "hashpartitioning(conv_id#" in ln]
        assert len(by_conv) == 1 and "REPARTITION_BY_NUM" in by_conv[0], plan


def _outside_cache(df, op: str) -> list[str]:
    """The physical operators of class ``op`` in ``df``'s executed plan
    with no cached frame (``InMemoryTableScanExec``) above them: reads of
    an input that bypass every cached frame. Walks the plan tree itself:
    the formatted explain prints a materialized cache's nested adaptive
    plans outside its tree indentation, so a text parse loses their
    ancestors."""
    out = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            return
        if name == op:
            out.append(node.toString())
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif name == "ReusedExchangeExec":
            kids = [node.child()]
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        subs = node.subqueries()
        for kid in kids + [subs.apply(i) for i in range(subs.size())]:
            walk(kid)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_edge_jaccard_no_single_partition(spark):
    """Per-edge Jaccard derives common neighbors from the oriented
    triangle list — no global sort/window, no single-partition funnel.

    It, Adamic-Adar and the clustering coefficient take the distinct
    edge set and the degrees from the frame ``oriented_edges`` holds, so
    the caller's edges are read once, by the one held distinct (one scan
    node, always under an InMemoryRelation): no second ``(src, dst)``
    distinct and no degree aggregate over the caller's lineage."""
    from sharetrace_giraph_spark.algorithms import (
        clustering_coefficient,
        edge_adamic_adar,
        edge_jaccard,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    verts = spark.range(4).withColumnRenamed("id", "vertex_id")
    # each call releases the previous call's wedge frames: plan it first
    for build in (
        lambda: edge_jaccard(edges),
        lambda: edge_adamic_adar(edges),
        lambda: clustering_coefficient(spark, edges, verts),
    ):
        df = build()
        plan = _plan(df)
        assert "SinglePartition" not in plan
        assert "row_number" not in plan.lower()
        assert not _outside_cache(df, "RDDScanExec"), plan
        assert len(set(re.findall(r"Scan ExistingRDD \((\d+)\)", plan))) == 1, plan


def test_asof_join_plans_one_keyed_window_no_cartesian(spark):
    """The as-of join must compile to a single keyed window over the
    unioned stream — never a cartesian / nested-loop range join, never a
    SinglePartition exchange (the key partitions the window)."""
    from sharetrace_giraph_spark.operators.asof import asof_join

    probes = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 50).alias("user"),
        F.timestamp_seconds(F.col("id") + 1700000000).alias("ts"),
    )
    quotes = spark.range(0, 200).select(
        (F.col("id") % 50).alias("user"),
        F.timestamp_seconds(F.col("id") * 3 + 1700000000).alias("ts"),
        (F.col("id") * 1.5).alias("value"),
    )
    plan = _plan(asof_join(probes, quotes, on="user", value_cols=("value",)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_tfidf_broadcasts_corpus_size_and_combines(spark):
    """tf-idf: the 1-row corpus count joins by broadcast, the term
    aggregations keep map-side partial combine, and the per-doc top-k
    window partitions by doc (no global sort)."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} common") for i in range(100)],
        "doc_id long, text string",
    )
    from sharetrace_giraph_spark.operators.text import tfidf_top_terms

    plan = _plan(tfidf_top_terms(docs, k=2))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 4  # two aggs, each partial+final
    assert "partial_count" in plan
    # the only SinglePartition exchange allowed is the 1-row corpus count;
    # the top-k window must partition by doc (no global sort of the terms)
    m = re.search(r"\(\d+\) Window\n((?:.+\n){1,4})", plan)
    assert m and "doc_id" in m.group(1)


def test_pii_redact_and_repetition_are_pure_projections(spark):
    """The scrub/repetition hot paths are single-pass column expressions:
    no shuffle, no Python in the row path."""
    from sharetrace_giraph_spark.operators.scrub import pii_redact
    from sharetrace_giraph_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} mail x@y.io t {i}") for i in range(50)],
        "doc_id long, text string",
    )
    for op in (pii_redact, repetition_stats):
        plan = _plan(op(docs))
        assert "Exchange" not in plan, op.__name__
        # no Python execution nodes (the createDataFrame scan's RDD label
        # mentions Python; that's the test harness, not the operator)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, (op.__name__, node)


def test_contamination_broadcasts_benchmark_grams(spark):
    """The corpus side must stream through a broadcast hash join against
    the (small) benchmark gram set — never a shuffled/sort-merge join of
    the exploded corpus — and the per-doc count keeps partial combine."""
    from sharetrace_giraph_spark.operators.scrub import contamination

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(100)], "doc_id long, text string"
    )
    bench = docs.where(F.col("doc_id") < 5)
    plan = _plan(contamination(docs, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_count" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_tokenization_evaluated_once_per_row(spark):
    """HOF-recompute guard: Catalyst does not CSE across higher-order-
    function lambda boundaries, so a shingle/count lambda that references
    ``tokens(col)`` directly re-runs the regex split per array element —
    O(tokens²) per row (measured 6.3× on the sf0.1 corpus). word_ngrams
    and repetition_stats bind the token array once as a lambda variable;
    the optimized plan must therefore contain exactly ONE split(...)."""
    from sharetrace_giraph_spark.operators.dedup import word_ngrams
    from sharetrace_giraph_spark.operators.text import (
        lang_id,
        quality_score,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    for name, df in (
        ("word_ngrams", docs.select(word_ngrams("text").alias("g"))),
        ("repetition_stats", repetition_stats(docs)),
        ("quality_score", quality_score(docs)),  # was 14 splits/row
        ("lang_id", lang_id(docs)),  # was 9 splits/row (one per language)
    ):
        plan = str(df._jdf.queryExecution().optimizedPlan())
        assert plan.count("split(") == 1, (name, plan.count("split("))

    # ngram_jaccard shingles AFTER the pair join (once per side — 2 total),
    # never over the full corpus per side
    from sharetrace_giraph_spark.operators.dedup import ngram_jaccard

    pairs = docs.select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
    plan = str(ngram_jaccard(pairs, docs)._jdf.queryExecution().optimizedPlan())
    assert plan.count("split(") == 2, plan.count("split(")


def _exchange_children(df) -> list[str]:
    """The node planned directly below each runtime shuffle Exchange in
    the physical plan (simple mode), excluding BroadcastExchange/
    ReusedExchange and the exchanges embedded inside an InMemoryRelation's
    stored plan (those materialized when the cache was built and are
    never re-run)."""
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    children = []
    below_exchange = False
    in_cache_subtree_indent = None
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        indent = len(line) - len(node)
        if in_cache_subtree_indent is not None:
            if indent > in_cache_subtree_indent:
                continue  # still inside the cached relation's stored plan
            in_cache_subtree_indent = None
        if below_exchange:
            children.append(node)
            below_exchange = False
        if node.startswith("InMemoryRelation"):
            in_cache_subtree_indent = indent
            continue
        if node.startswith("Exchange "):
            below_exchange = True
    return children


def test_superstep_carry_plans_single_exchange(spark, tmp_path, pr_graph):
    """The BSP loop's minimal-shuffle invariant (round 4): with planning
    pinned (AQE off, shuffle width = iteration width P) and the state
    carried through an eager localCheckpoint — which preserves the step
    output's hash(vertex_id, P) partitioning in the rebased LogicalRDD —
    a mid-loop PageRank superstep (``_pr_step``) must plan exactly ONE
    shuffle exchange (the message aggregation). Both state-side joins and
    the edge side (cached hash(src, P)) are provably co-partitioned. A
    regression here (a second exchange creeping in) re-inflates the
    serial per-superstep cost that caps N->4N scaling efficiency
    (BENCH.md round 4: Amdahl c ~3.9 s -> ~0.6 s per superstep from this
    property)."""
    step, init = pr_graph
    _pin_step(step, init, exchanges=1, combined=1)

    # contrast: a parquet round-trip forgets the partitioning, so the
    # same step must re-exchange the state for each of its two
    # references — the cost the carry removes
    carried = step(init, 0).localCheckpoint(eager=True)
    pq = str(tmp_path / "state")
    carried.write.mode("overwrite").parquet(pq)
    forgotten = step(spark.read.schema(carried.schema).parquet(pq), 1)
    assert len(_exchange_children(forgotten)) >= 3, _plan(forgotten)


@contextlib.contextmanager
def _pinned_planning(spark, P):
    """Pin the loop-planning confs the superstep driver pins (AQE off,
    shuffle width = iteration width P); restored on exit."""
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    try:
        yield
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


@pytest.fixture()
def small_graph(spark):
    """A hub-skewed graph directed both ways, prepared as every step's
    edges are (cached, hash(src, P)), under pinned planning at P = 8.
    Yields ``(e, verts)``."""
    from sharetrace_giraph_spark.plans.cache import release
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS, loop_inputs

    edges = _both_ways(spark)
    with _pinned_planning(spark, 8):
        e, _, _ = loop_inputs(spark, edges, ("src", "dst"), "src", num_partitions=8)
        yield e, edges.selectExpr("src AS vertex_id").distinct()
    release(LOOP_INPUTS)


@pytest.fixture()
def pr_graph(spark):
    """PageRank's real step over its real inputs (``loop_inputs`` keyed
    on src, and the init state carrying each vertex's out-weight) on the
    ``small_graph`` edges, under pinned planning at P = 8. Every vertex
    has an out-edge, so there is no dangling branch. Yields ``(step,
    init)``."""
    from sharetrace_giraph_spark.algorithms.pagerank import _pr_init, _pr_step
    from sharetrace_giraph_spark.plans.cache import release
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS, loop_inputs

    edges = _both_ways(spark)
    verts = edges.selectExpr("src AS vertex_id").distinct()
    with _pinned_planning(spark, 8):
        e, v, _ = loop_inputs(spark, edges, ("src", "dst"), "src", verts, 8)
        n = v.count()
        init = _pr_init(e, v, n, None, None)
        assert init.where("wsum IS NULL").isEmpty()
        # the out-weight join reads both inputs as they are partitioned
        assert not _exchange_children(init), _plan(init)
        yield _pr_step(e, n, 0.85, False, None, False), init
    release(LOOP_INPUTS)


def _both_ways(spark):
    """A hub-skewed generated graph, directed both ways: ``(src, dst)``."""
    from sharetrace_giraph_spark import datagen

    canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
    return canon.union(canon.selectExpr("dst AS src", "src AS dst")).select("src", "dst")


def _pin_step(step, init, exchanges: int, combined: int) -> str:
    """Plan a mid-loop superstep as the driver runs it (``step`` over the
    carried output of ``step(init, 0)``) and pin its shape: exactly
    ``exchanges`` runtime shuffle exchanges, of which ``combined`` sit
    directly above a ``partial_`` aggregate. That map-side combine is the
    engine's one skew mechanism (operators/skew): a hub's reducer gets
    one pre-combined row per map task, not one per in-edge. No side is
    broadcast: the O(V) sides of ``plans.superstep.send`` and
    ``receive`` are hinted ``shuffle_hash``, and a broadcast would also
    hide a shuffle from the exchange count. Returns the formatted
    plan."""
    carried = step(init, 0).localCheckpoint(eager=True)
    mid_loop = step(carried, 1)
    below = _exchange_children(mid_loop)
    plan = _plan(mid_loop)
    assert len(below) == exchanges, plan
    assert sum("partial_" in node for node in below) == combined, plan
    assert "Broadcast" not in plan, plan
    return plan


def test_cc_frontier_step_plans_single_exchange(small_graph):
    """The CC frontier step (``_cc_step``) — the marginal north-rule
    algorithm in the 40M scaling runs, so a second exchange creeping into
    ITS superstep is the regression that would hurt most: frontier filter
    -> edge gather (co-partitioned SHJ) -> min agg (THE one exchange, over
    a partial min) -> state update join (co-partitioned)."""
    from sharetrace_giraph_spark.algorithms.connected_components import _cc_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id", F.col("vertex_id").alias("comp"), F.lit(1.0).alias("delta")
    )
    _pin_step(_cc_step(e, "frontier"), init, exchanges=1, combined=1)


def test_cc_doubling_step_plans_two_exchanges(small_graph):
    """The CC pointer-jumping step (``_cc_step(method="doubling")``) plans
    TWO exchanges: the neighbor-min message agg (over a partial min), and
    a re-key of the joined state by its label for the ``comp == p_id``
    lookup — the one join per superstep that doubling adds, whose key is
    not the vertex id the state is clustered on. Pin at 2."""
    from sharetrace_giraph_spark.algorithms.connected_components import _cc_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id", F.col("vertex_id").alias("comp"), F.lit(1.0).alias("delta")
    )
    _pin_step(_cc_step(e, "doubling"), init, exchanges=2, combined=1)


def test_bfs_message_agg_partial_final(small_graph):
    """One BFS superstep (``_bfs_step``): the frontier message plan keeps
    the min-combine as partial+final aggregate around its one exchange,
    and nothing plans a SinglePartition exchange."""
    from sharetrace_giraph_spark.algorithms.bfs import UNREACHED, _bfs_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id",
        F.when(F.col("vertex_id") == 0, 0).otherwise(UNREACHED).cast("long").alias("dist"),
        F.when(F.col("vertex_id") == 0, 1.0).otherwise(0.0).alias("delta"),
    )
    plan = _pin_step(_bfs_step(e), init, exchanges=1, combined=1)
    assert "partial_min" in plan
    assert "SinglePartition" not in plan


def test_sssp_step_plans_single_exchange(small_graph):
    """SSSP (``_bfs_step`` with the edge cost ``w``) shares CC's frontier
    shape: gather join co-partitioned, ONE min-agg exchange over a
    partial min, state-update join co-partitioned."""
    from sharetrace_giraph_spark.algorithms.bfs import _bfs_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id", F.lit(0).cast("long").alias("dist"), F.lit(1.0).alias("delta")
    )
    ew = e.withColumn("w", F.lit(1).cast("long"))
    _pin_step(_bfs_step(ew, "w"), init, exchanges=1, combined=1)


def test_kcore_step_plans_single_exchange(small_graph):
    """k-core peeling (``_kcore_step``): the alive-degree count is the ONE
    exchange, over a partial sum; gather and state-update joins are
    co-partitioned under the carry."""
    from sharetrace_giraph_spark.algorithms.kcore import _kcore_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id", F.lit(1).cast("int").alias("alive"), F.lit(1.0).alias("delta")
    )
    _pin_step(_kcore_step(e, 3), init, exchanges=1, combined=1)


def test_lpa_step_plans_two_exchanges(small_graph):
    """LPA's mode adoption (``_lpa_step``) is a TWO-level aggregate —
    count per (dst, label), then argmax per dst — so its intended minimal
    shape is exactly TWO exchanges per superstep, each over its level's
    partial aggregate (the gather and state-update joins stay
    co-partitioned under the carry). Pin at 2 so a third exchange (e.g. a
    state-side re-exchange from a broken carry) is caught."""
    from sharetrace_giraph_spark.algorithms.label_propagation import _lpa_step

    e, verts = small_graph
    init = verts.select(
        "vertex_id", F.col("vertex_id").alias("label"), F.lit(1.0).alias("delta")
    )
    _pin_step(_lpa_step(e, None), init, exchanges=2, combined=2)


def test_walks_step_plans_two_exchanges(small_graph):
    """Random-walk steps (``_walks_step``) re-key the state by its CURRENT
    position (cur), which the carry cannot co-partition with the
    (start, widx)-keyed output of the previous step — so the intended
    minimal shape is TWO exchanges: the state re-key for the edge join
    plus the per-walk min-agg over its partial min. Pin at 2."""
    from sharetrace_giraph_spark.algorithms.random_walks import _walks_step

    e, verts = small_graph
    init = verts.select(
        F.col("vertex_id").alias("start"),
        F.lit(0).alias("widx"),
        F.col("vertex_id").alias("cur"),
        F.array(F.col("vertex_id")).alias("path"),
        F.lit(1.0).alias("delta"),
    )
    _pin_step(_walks_step(e, "s", 4), init, exchanges=2, combined=1)


def test_neighborhood_hll_step_plans_single_exchange(small_graph):
    """HyperANF (``_anf_step(method="hll")``): the sketch gather join is
    co-partitioned, and the per-vertex sketch union over state ∪ messages
    is THE one exchange, over a partial union — the one ball merge whose
    partial state is bounded (an HLL sketch), so a hub's reducer input
    shrinks with the combine."""
    from sharetrace_giraph_spark.algorithms.neighborhood import _anf_init, _anf_step

    e, verts = small_graph
    init = _anf_init(verts, "hll", 10)
    _pin_step(_anf_step(e, "hll"), init, exchanges=1, combined=1)


def test_neighborhood_exact_step_plans_single_exchange(small_graph):
    """Exact ANF (``_anf_step(method="exact")``) plans the same shape as
    hll: co-partitioned gather join, ONE exchange over a partial
    ``collect_list``. Unlike the sketch union, that partial does not
    shrink a hub's reducer input: a partial ``collect_list`` is the
    concatenation of its map task's reached-sets, so the exchange still
    carries every element of deg(hub) balls (only the final
    ``array_distinct(flatten(...))`` de-duplicates). Use
    ``method="hll"`` on hub-heavy graphs."""
    from sharetrace_giraph_spark.algorithms.neighborhood import _anf_init, _anf_step

    e, verts = small_graph
    init = _anf_init(verts, "exact", 10)
    plan = _pin_step(_anf_step(e, "exact"), init, exchanges=1, combined=1)
    assert "partial_collect_list" in plan, plan


def test_risk_step_plans_single_exchange(spark):
    """Risk propagation's real superstep (``_risk_step``): each directed
    edge joins its sender's score ARRAY once (co-partitioned SHJ, no
    exchange), the relay max is a per-row HOF, and the per-receiver
    collect/max agg is THE one exchange, over its partial aggregate (a
    receiver gets one de-duplicated message set per map task); the
    state-update join is
    co-partitioned. No score is exploded into its own row, and the relay
    join's condition must stay a bare key equality: an F4
    ``where(m IS NOT NULL)`` would be pushed into it, evaluating the
    filter/array_max HOF twice per edge."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.algorithms.risk_propagation import (
        _directed_contact_edges,
        _risk_step,
        init_state,
    )
    from sharetrace_giraph_spark.plans.cache import release
    from sharetrace_giraph_spark.plans.superstep import LOOP_INPUTS, loop_inputs

    P = 8
    with _pinned_planning(spark, P):
        canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
        contacts = canon.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
            F.array(
                F.struct(
                    F.timestamp_seconds(F.lit(86_400) * (F.col("src") % 5 + 2)).alias("time"),
                    F.lit(900_000).cast("long").alias("duration_ms"),
                )
            ).alias("occurrences"),
        )
        scores = canon.select(F.col("src").cast("string").alias("id")).distinct().select(
            "id",
            F.timestamp_seconds(F.lit(86_400) * (F.col("id").cast("long") % 4 + 1)).alias(
                "update_time"
            ),
            (F.col("id").cast("long") % 10 / 10.0).alias("value"),
        )
        edges, _, _ = loop_inputs(spark, _directed_contact_edges(contacts),
                                  ("src", "dst", "cutoff_ts"), "src", num_partitions=P)
        try:
            plan = _pin_step(
                _risk_step(edges, 0.8), init_state(scores), exchanges=1, combined=1
            )
        finally:
            release(LOOP_INPUTS)
        assert "Generate" not in plan, plan  # scores are never exploded
        conds = [ln for ln in plan.splitlines() if ln.startswith("Join condition")]
        assert len(conds) == 2, plan  # relay join + state-update join
        for ln in conds:
            assert "filter(" not in ln and "array_max(" not in ln, ln
