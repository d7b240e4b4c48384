"""Physical-plan discipline checks — the plans we want, not just plans
that pass (SURVEY §4, README "Execution-plan discipline").

These assert on ``explain`` output so a regression that silently
de-optimizes a hot path (lost pushdown, a single-partition global
exchange, a dropped broadcast) fails CI rather than a future bench run.
"""

from __future__ import annotations

import io

import pyspark.sql.functions as F

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
    """Dense-id assignment at a PINNED multi-partition width must never
    plan a SinglePartition exchange (the global row_number() trap this
    engine explicitly avoids). The un-pinned path auto-sizes by row count
    and may legitimately collapse a tiny key set to one partition — that
    is the overhead fix, not the trap — so the structural assertion runs
    against the pinned at-scale spelling."""
    from sharetrace_giraph_spark.operators.edges import dense_ids

    df = spark.range(0, 1000).select(
        F.format_string("r%05d", F.col("id")).alias("role")
    )
    # truncate_lineage=False exposes the raw assignment plan (the default
    # path eagerly checkpoints, leaving only a LogicalRDD scan to inspect
    # — which would make this assertion vacuous)
    plan = _plan(dense_ids(df, "role", num_partitions=8, truncate_lineage=False))
    assert "SinglePartition" not in plan
    # auto path: tiny input → narrow plan, ids still dense 0..N-1 in order
    auto = dense_ids(df, "role")
    rows = auto.orderBy("vertex_id").collect()
    assert [r.vertex_id for r in rows] == list(range(1000))
    assert rows[0].role == "r00000" and rows[-1].role == "r00999"


def test_dense_ids_truncate_lineage_and_wedge_width(spark):
    """Regression pins for the round-5 dense-id slowdown (BENCH.md
    'Round-5 late regression'):

    1. The default dense_ids path must hand consumers a bare scan of the
       materialized id table — NOT the assignment lineage. The in-plan
       offsets embed the range-partitioned subtree three times, every
       encode join references the id table twice, and AQE re-optimizes
       per query stage, so a leaked lineage multiplies driver-serial
       planning cost into every downstream action (measured ~2.5x the
       task time of a triangle count).
    2. The triangle wedge join's parallelism must be pinned by
       construction: the oriented table is hash-repartitioned on the
       wedge apex at the configured width, never inheriting a
       possibly-1-partition layout from whatever tiny cached relation
       the encode joins happened to stream.
    """
    from sharetrace_giraph_spark.algorithms.triangle_count import (
        _CACHED,
        triangle_list,
    )
    from sharetrace_giraph_spark.operators.edges import dense_ids

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
    )  # K8: 56 triangles
    tri = triangle_list(edges.repartition(1))  # worst-case upstream layout
    assert tri.count() == 56
    oriented = _CACHED[-2]  # [e, oriented, tri]
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert oriented.rdd.getNumPartitions() == width


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


def test_pagerank_superstep_plan_shape(spark, tmp_path):
    """One superstep's message plan: the edge side is an equi hash join
    against the cached edge relation, message agg is partial+final, and
    nothing funnels through a single partition."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.algorithms.pagerank import _prepare

    canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
    edges = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
    verts = canon.selectExpr("src AS vertex_id").union(
        canon.selectExpr("dst AS vertex_id")
    ).distinct()
    edges_w, v, n = _prepare(edges, verts, 8)
    state = v.select(
        "vertex_id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
    )
    msgs = (
        edges_w.join(state, edges_w.src == state.vertex_id)
        .groupBy(edges_w.dst.alias("mdst"))
        .agg(F.sum(F.col("rank") * F.col("inv_deg")).alias("contrib"))
    )
    plan = _plan(msgs)
    assert "SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final message combine
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan  # cached edges
    edges_w.unpersist()
    v.unpersist()


def test_derive_contacts_single_scan_two_shuffles(spark):
    """The grouped pair strategy must evaluate the span pipeline ONCE
    (the old self-join formulation planned it per join side — a double
    transcript scan at 100 TB) and shuffle exactly twice: once into
    conv_id windows, once into the (src, dst) merge."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.operators.edges import derive_contacts

    t = datagen.generate_transcripts(
        spark, n_convs=50, turns_per_conv=8, n_actors=20,
        n_communities=4, n_hubs=1, seed=3,
    )
    plan = _plan(derive_contacts(t))
    ops = [ln for ln in plan.splitlines() if ln.strip().startswith("(")]
    n_shuffle = sum(1 for ln in ops if "Exchange" in ln and "Broadcast" not in ln)
    n_window = sum(1 for ln in ops if "Window" in ln)
    assert n_shuffle <= 2, plan
    # sessionize = 2 fused-window ops (lag + running sum); doubled means
    # the span subtree got planned twice again
    assert n_window <= 2, plan
    assert "Join" not in plan  # pair generation is a higher-order expansion


def test_edge_jaccard_no_single_partition(spark):
    """Per-edge Jaccard derives common neighbors from the oriented
    triangle list — no global sort/window, no single-partition funnel."""
    from sharetrace_giraph_spark.algorithms import edge_jaccard

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    plan = _plan(edge_jaccard(edges))
    assert "SinglePartition" not in plan
    assert "row_number" not in plan.lower()


def test_bfs_message_agg_partial_final(spark, tmp_path):
    """One BFS superstep: the frontier message plan keeps the min-combine
    as partial+final HashAggregate (map-side combine before the shuffle)
    and nothing plans a SinglePartition exchange."""
    import pyspark.sql.functions as FF

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    from sharetrace_giraph_spark.operators.edges import undirect

    e = undirect(edges).repartition(8, "src").persist()
    state = spark.createDataFrame(
        [(i, 0 if i == 0 else (1 << 62), 1.0 if i == 0 else 0.0) for i in range(51)],
        "vertex_id long, dist long, delta double",
    )
    frontier = state.where(FF.col("delta") > 0.5)
    msgs = e.join(frontier, e.src == frontier.vertex_id).select(
        e.dst.alias("mdst"), (FF.col("dist") + 1).alias("nd")
    )
    inc = msgs.groupBy("mdst").agg(FF.min("nd").alias("min_nd"))
    plan = _plan(inc)
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan
    assert "SinglePartition" not in plan
    e.unpersist()


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
    import re

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
    import re

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


def _count_shuffle_exchanges(df) -> int:
    """Runtime shuffle Exchange nodes in the physical plan (simple mode),
    excluding BroadcastExchange/ReusedExchange and the exchanges embedded
    inside an InMemoryRelation's stored plan (those materialized when the
    cache was built and are never re-run)."""
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    n = 0
    in_cache_subtree_indent = None
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        indent = len(line) - len(node)
        if in_cache_subtree_indent is not None:
            if indent > in_cache_subtree_indent:
                continue  # still inside the cached relation's stored plan
            in_cache_subtree_indent = None
        if node.startswith("InMemoryRelation"):
            in_cache_subtree_indent = indent
            continue
        if node.startswith("Exchange "):
            n += 1
    return n


def test_superstep_carry_plans_single_exchange(spark, tmp_path):
    """The BSP loop's minimal-shuffle invariant (round 4): with planning
    pinned (AQE off, shuffle width = iteration width P) and the state
    carried through an eager localCheckpoint — which preserves the step
    output's hash(vertex_id, P) partitioning in the rebased LogicalRDD —
    a mid-loop PageRank superstep must plan exactly ONE shuffle exchange
    (the message aggregation). Both state-side joins and the edge side
    (cached hash(src, P)) are provably co-partitioned. A regression here
    (a second exchange creeping in) re-inflates the serial per-superstep
    cost that caps N->4N scaling efficiency (BENCH.md round 4: Amdahl
    c ~3.9 s -> ~0.6 s per superstep from this property)."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.algorithms.pagerank import _prepare

    P = 8
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    try:
        canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
        edges = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
        verts = canon.selectExpr("src AS vertex_id").union(
            canon.selectExpr("dst AS vertex_id")
        ).distinct()
        edges_w, v, n = _prepare(edges, verts, P)

        def step(state):
            msgs = (
                edges_w.join(state.hint("shuffle_hash"), edges_w.src == state.vertex_id)
                .select(edges_w.dst.alias("mdst"),
                        (F.col("rank") * F.col("inv_deg")).alias("contrib"))
            )
            inc = msgs.groupBy("mdst").agg(F.sum("contrib").alias("contrib"))
            joined = state.select("vertex_id", F.col("rank").alias("old_rank")).join(
                inc.hint("shuffle_hash"), F.col("vertex_id") == F.col("mdst"), "left"
            )
            new_rank = F.lit(0.15 / n) + 0.85 * F.coalesce("contrib", F.lit(0.0))
            return joined.select(
                "vertex_id", new_rank.alias("rank"),
                F.abs(new_rank - F.col("old_rank")).alias("delta"),
            )

        init = v.select(
            "vertex_id", F.lit(1.0 / n).alias("rank"), F.lit(1.0).alias("delta")
        )
        carried = step(init).localCheckpoint(eager=True)
        mid_loop = step(carried)
        assert _count_shuffle_exchanges(mid_loop) == 1, _plan(mid_loop)

        # contrast: a parquet round-trip forgets the partitioning, so the
        # same step must re-exchange the state for each of its two
        # references — the cost the carry removes
        pq = str(tmp_path / "state")
        carried.write.mode("overwrite").parquet(pq)
        forgotten = step(spark.read.schema(carried.schema).parquet(pq))
        assert _count_shuffle_exchanges(forgotten) >= 3, _plan(forgotten)
        edges_w.unpersist()
        v.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_cc_frontier_step_plans_single_exchange(spark, tmp_path):
    """Same minimal-shuffle invariant for the CC frontier step — the
    marginal north-rule algorithm in the 40M scaling runs, so a second
    exchange creeping into ITS superstep is the regression that would
    hurt most. Shape mirrors algorithms/connected_components.py
    step_frontier: frontier filter -> edge gather (co-partitioned SHJ)
    -> min agg (THE one exchange) -> state update join (co-partitioned)."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.plans.superstep import prepare_edges

    P = 8
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    try:
        canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
        edges = canon.union(canon.selectExpr("dst AS src", "src AS dst")).select(
            "src", "dst"
        )
        e, _ = prepare_edges(spark, edges, "src", P)
        verts = edges.selectExpr("src AS vertex_id").distinct()

        def step(state):
            senders = state.where(F.col("delta") > 0.5)
            msgs = e.join(
                senders.hint("shuffle_hash"), e.src == senders.vertex_id
            ).select(e.dst.alias("mdst"), F.col("comp"))
            inc = msgs.groupBy("mdst").agg(F.min("comp").alias("min_nbr"))
            new_comp = F.least("comp", F.coalesce("min_nbr", "comp"))
            return state.join(
                inc.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left"
            ).select(
                "vertex_id",
                new_comp.alias("comp"),
                F.when(new_comp != F.col("comp"), 1.0).otherwise(0.0).alias("delta"),
            )

        init = verts.select(
            "vertex_id", F.col("vertex_id").alias("comp"), F.lit(1.0).alias("delta")
        )
        carried = step(init).localCheckpoint(eager=True)
        mid_loop = step(carried)
        assert _count_shuffle_exchanges(mid_loop) == 1, _plan(mid_loop)
        e.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def _pinned_planning(spark, P):
    """Save + pin the loop-planning confs; returns the saved dict."""
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    return saved


def _small_graph(spark, P):
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.plans.superstep import prepare_edges

    canon = datagen.generate_edges(spark, 2000, 200, num_partitions=4)
    edges = canon.union(canon.selectExpr("dst AS src", "src AS dst")).select(
        "src", "dst"
    )
    e, _ = prepare_edges(spark, edges, "src", P)
    verts = edges.selectExpr("src AS vertex_id").distinct()
    return e, verts


def test_sssp_step_plans_single_exchange(spark):
    """SSSP shares CC's frontier shape (gather join co-partitioned, ONE
    min-agg exchange, state-update join co-partitioned) — pin it so a
    second exchange can't creep into its superstep unnoticed (round-4
    verdict item: the carry's one-exchange invariant was pinned only
    for PageRank and CC)."""
    P = 8
    saved = _pinned_planning(spark, P)
    try:
        e, verts = _small_graph(spark, P)
        ew = e.withColumn("w", F.lit(1).cast("long"))

        def step(state):
            frontier = state.where(F.col("delta") > 0.5)
            msgs = ew.join(
                frontier.hint("shuffle_hash"), ew.src == frontier.vertex_id
            ).select(ew.dst.alias("mdst"), (F.col("dist") + F.col("w")).alias("nd"))
            inc = msgs.groupBy("mdst").agg(F.min("nd").alias("min_nd"))
            new_dist = F.least("dist", F.coalesce("min_nd", "dist"))
            return state.join(
                inc.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left"
            ).select(
                "vertex_id",
                new_dist.alias("dist"),
                F.when(new_dist != F.col("dist"), 1.0).otherwise(0.0).alias("delta"),
            )

        init = verts.select(
            "vertex_id", F.lit(0).cast("long").alias("dist"), F.lit(1.0).alias("delta")
        )
        carried = step(init).localCheckpoint(eager=True)
        mid_loop = step(carried)
        assert _count_shuffle_exchanges(mid_loop) == 1, _plan(mid_loop)
        e.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_kcore_step_plans_single_exchange(spark):
    """k-core peeling: alive-degree count is the ONE exchange; gather and
    state-update joins are co-partitioned under the carry."""
    P = 8
    saved = _pinned_planning(spark, P)
    try:
        e, verts = _small_graph(spark, P)

        def step(state):
            alive = state.where(F.col("alive") == 1).select("vertex_id")
            msgs = e.join(
                alive.hint("shuffle_hash"), e.src == alive.vertex_id
            ).select(e.dst.alias("mdst"), F.lit(1).cast("long").alias("one"))
            deg = msgs.groupBy("mdst").agg(F.sum("one").alias("alive_deg"))
            survives = (F.col("alive") == 1) & (
                F.coalesce("alive_deg", F.lit(0)) >= 3
            )
            new_alive = F.when(survives, 1).otherwise(0).cast("int")
            return state.join(
                deg.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left"
            ).select(
                "vertex_id",
                new_alive.alias("alive"),
                F.when(new_alive != F.col("alive"), 1.0).otherwise(0.0).alias("delta"),
            )

        init = verts.select(
            "vertex_id", F.lit(1).cast("int").alias("alive"), F.lit(1.0).alias("delta")
        )
        carried = step(init).localCheckpoint(eager=True)
        mid_loop = step(carried)
        assert _count_shuffle_exchanges(mid_loop) == 1, _plan(mid_loop)
        e.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_lpa_step_plans_two_exchanges(spark):
    """LPA's mode adoption is a TWO-level aggregate — count per
    (dst, label), then argmax per dst — so its intended minimal shape is
    exactly TWO exchanges per superstep (one per agg level; the gather
    and state-update joins stay co-partitioned under the carry). Pin at
    2 so a third exchange (e.g. a state-side re-exchange from a broken
    carry) is caught."""
    P = 8
    saved = _pinned_planning(spark, P)
    try:
        e, verts = _small_graph(spark, P)

        def step(state):
            msgs = e.join(
                state.hint("shuffle_hash"), e.src == state.vertex_id
            ).select(
                e.dst.alias("mdst"),
                F.col("label").alias("nbr_label"),
                F.lit(1).alias("_vote"),
            )
            label_counts = msgs.groupBy("mdst", "nbr_label").agg(
                F.sum("_vote").alias("cnt")
            )
            mode = label_counts.groupBy("mdst").agg(
                F.max_by(
                    "nbr_label",
                    F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg")),
                ).alias("mode_label")
            )
            new_label = F.coalesce("mode_label", "label")
            return state.join(
                mode.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left"
            ).select(
                "vertex_id",
                new_label.alias("label"),
                F.when(new_label != F.col("label"), 1.0).otherwise(0.0).alias("delta"),
            )

        init = verts.select(
            "vertex_id", F.col("vertex_id").alias("label"), F.lit(1.0).alias("delta")
        )
        carried = step(init).localCheckpoint(eager=True)
        mid_loop = step(carried)
        assert _count_shuffle_exchanges(mid_loop) == 2, _plan(mid_loop)
        e.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_walks_step_plans_two_exchanges(spark):
    """Random-walk steps re-key the state by its CURRENT position (cur),
    which the carry cannot co-partition with the (start, widx)-keyed
    output of the previous step — so the intended minimal shape is TWO
    exchanges: the state re-key for the edge join plus the per-walk
    min-agg. Pin at 2."""
    P = 8
    saved = _pinned_planning(spark, P)
    try:
        from sharetrace_giraph_spark.algorithms.random_walks import walk_rank

        e, verts = _small_graph(spark, P)

        def step(state, k):
            st, ed = state.alias("st"), e.alias("ed")
            frontier = st.hint("shuffle_hash").join(
                ed.hint("shuffle_hash"), F.col("st.cur") == F.col("ed.src")
            ).select(
                F.col("st.start").alias("start"),
                F.col("st.widx").alias("widx"),
                F.col("st.cur").alias("cur"),
                F.col("st.path").alias("path"),
                F.col("ed.dst").alias("dst"),
            )
            cand = F.min(
                F.struct(walk_rank("s", k).alias("r"), F.col("dst").alias("nbr"))
            ).alias("m")
            nxt = frontier.groupBy("start", "widx").agg(
                cand, F.any_value("path").alias("path")
            )
            return nxt.select(
                "start",
                "widx",
                F.col("m.nbr").alias("cur"),
                F.concat("path", F.array(F.col("m.nbr"))).alias("path"),
                F.lit(1.0).alias("delta"),
            )

        init = verts.select(
            F.col("vertex_id").alias("start"),
            F.lit(0).alias("widx"),
            F.col("vertex_id").alias("cur"),
            F.array(F.col("vertex_id")).alias("path"),
            F.lit(1.0).alias("delta"),
        )
        carried = step(init, 0).localCheckpoint(eager=True)
        mid_loop = step(carried, 1)
        assert _count_shuffle_exchanges(mid_loop) == 2, _plan(mid_loop)
        e.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def test_risk_step_plans_single_exchange(spark):
    """Risk propagation's real superstep (``_risk_step``): each directed
    edge joins its sender's score ARRAY once (co-partitioned SHJ, no
    exchange), the relay max is a per-row HOF, and the per-receiver
    collect/max agg is THE one exchange; the state-update join is
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
    from sharetrace_giraph_spark.plans.superstep import prepare_edges

    P = 8
    saved = _pinned_planning(spark, P)
    try:
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
        edges, _ = prepare_edges(spark, _directed_contact_edges(contacts), "u", P)
        step = _risk_step(edges, 0.8)
        carried = step(init_state(scores), 0).localCheckpoint(eager=True)
        mid_loop = step(carried, 1)
        plan = _plan(mid_loop)
        assert _count_shuffle_exchanges(mid_loop) == 1, plan
        assert "Generate" not in plan, plan  # scores are never exploded
        conds = [ln for ln in plan.splitlines() if ln.startswith("Join condition")]
        assert len(conds) == 2, plan  # relay join + state-update join
        for ln in conds:
            assert "filter(" not in ln and "array_max(" not in ln, ln
        edges.unpersist()
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)
