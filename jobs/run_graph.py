#!/usr/bin/env python
"""spark-submit entry point: transcripts → contacts → graph algorithm.

Cluster usage (the north-rule ship shape):

    python scripts/make_pyfiles_zip.py
    spark-submit --master <cluster> \\
        --py-files dist/sharetrace_giraph_spark.zip \\
        jobs/run_graph.py \\
        --transcripts /path/or/iceberg/table --algorithm pagerank \\
        --checkpoint-dir /warehouse/ckpt --run-id prod-001 \\
        --output /warehouse/out/pagerank

Local smoke:

    python jobs/run_graph.py --synthetic-convs 2000 --algorithm pagerank \\
        --checkpoint-dir /tmp/ck --output /tmp/out

Resume: re-run the identical command after a kill — the driver continues
from the max committed superstep of (checkpoint-dir, run-id, algorithm).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# under spark-submit --py-files the package is on the path already; when
# run directly from the repo, add the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _seed(sources: str | None, verts):
    """The bfs/sssp source set ``(vertex_id)``: the vertices of the
    comma-separated ``--bfs-sources`` roles, or the lexicographically
    smallest role. Exits when no listed role exists (a typo would
    otherwise be indistinguishable from an unreachable graph) and warns
    when only some do."""
    import pyspark.sql.functions as F

    if not sources:
        return verts.orderBy("role").limit(1).select("vertex_id")
    roles = [r.strip() for r in sources.split(",") if r.strip()]
    seed = verts.where(F.col("role").isin(roles)).select("vertex_id")
    n_found = seed.count()
    if n_found == 0:
        raise SystemExit(
            f"--bfs-sources matched no vertex (asked for {roles!r}); "
            "a typo would otherwise be indistinguishable from an "
            "unreachable graph"
        )
    if n_found < len(roles):
        print(f"warning: only {n_found}/{len(roles)} --bfs-sources "
              "exist in the graph", file=sys.stderr)
    return seed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="parquet path (or Iceberg table) of transcripts")
    ap.add_argument("--synthetic-convs", type=int, help="generate synthetic transcripts instead")
    ap.add_argument(
        "--factor-graph-json",
        help="reference-format JSON-lines factor-graph file (the reference "
        "runner's -vip input, e.g. its input.txt) — sources/jsonlines.py; "
        "with --algorithm risk_prop the output is also written as the "
        "reference's JSON-lines score format next to --output",
    )
    ap.add_argument(
        "--algorithm",
        required=True,
        choices=["pagerank", "cc", "lpa", "triangles", "risk_prop",
                 "bfs", "sssp", "clustering", "edge_jaccard", "adamic_adar",
                 "kcore", "ktruss", "anf", "walks"],
    )
    ap.add_argument("--k", type=int, default=3,
                    help="kcore/ktruss only: the core/truss order k")
    ap.add_argument("--nf-method", default="hll", choices=["exact", "hll"],
                    help="anf only: exact ball unions (small graphs) or "
                    "HyperLogLog sketches (the 100-TB path; ~2KB/vertex state)")
    ap.add_argument("--max-radius", type=int, default=6,
                    help="anf only: largest neighborhood radius to profile")
    ap.add_argument("--num-walks", type=int, default=2,
                    help="walks only: walks started per vertex")
    ap.add_argument("--walk-length", type=int, default=4,
                    help="walks only: hops per walk")
    ap.add_argument("--cc-method", default="frontier", choices=["frontier", "doubling"],
                    help="cc only: frontier min-label (O(diameter) supersteps) or "
                    "pointer-doubling (O(log V), high-diameter graphs)")
    ap.add_argument("--bfs-sources", help="bfs only: comma-separated source roles "
                    "(default: the lexicographically smallest role)")
    ap.add_argument("--teleport-roles", help="pagerank only: comma-separated seed "
                    "roles for PERSONALIZED PageRank (restart returns to these)")
    ap.add_argument("--duration-weighted", action="store_true",
                    help="pagerank only: weight transitions by total co-presence "
                    "duration per contact edge (+1 ms floor) instead of 1/degree")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-supersteps", type=int, default=20)
    ap.add_argument("--tolerance", type=float,
                    help="pagerank and risk_prop only: halt once the superstep's "
                    "L1 delta is below this (default: the algorithm's own)")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()
    tol = {} if args.tolerance is None else {"tolerance": args.tolerance}

    from sharetrace_giraph_spark.session import get_spark
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.operators import edges as E

    spark = get_spark(app_name=f"stgs-{args.algorithm}")

    json_scores = None
    if args.factor_graph_json:
        from sharetrace_giraph_spark.sources import jsonlines

        contacts, json_scores = jsonlines.read_factor_graph(spark, args.factor_graph_json)
        contacts = contacts.persist()
    else:
        if args.synthetic_convs:
            t = datagen.generate_transcripts(spark, n_convs=args.synthetic_convs)
        elif args.transcripts:
            t = spark.read.parquet(args.transcripts)
        else:
            raise SystemExit("need --transcripts, --synthetic-convs, or --factor-graph-json")
        contacts = E.derive_contacts(t).persist()
    verts = E.vertex_ids(contacts)
    enc = E.encode_edges(contacts, verts)

    resume = not args.no_resume
    if args.algorithm == "pagerank":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import pagerank

        und = E.undirect(enc)
        weight_col = None
        if args.duration_weighted:
            und = E.weighted_undirect(contacts, verts)
            weight_col = "w"
        teleport = None
        if args.teleport_roles:
            roles = [r.strip() for r in args.teleport_roles.split(",") if r.strip()]
            teleport = verts.where(F.col("role").isin(roles)).select("vertex_id")

        res = pagerank(
            spark, und, verts, args.checkpoint_dir, run_id=args.run_id,
            max_supersteps=args.max_supersteps, resume=resume, **tol,
            weight_col=weight_col, teleport=teleport,
        )
        out = res.state.join(verts, "vertex_id").select("role", "rank")
    elif args.algorithm == "cc":
        from sharetrace_giraph_spark.algorithms import connected_components

        res = connected_components(
            spark, E.undirect(enc), verts, args.checkpoint_dir, run_id=args.run_id,
            max_supersteps=args.max_supersteps, resume=resume, method=args.cc_method,
        )
        out = res.state.join(verts, "vertex_id").select("role", "comp")
    elif args.algorithm == "bfs":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import UNREACHED, bfs

        seed = _seed(args.bfs_sources, verts)
        res = bfs(
            spark, E.undirect(enc), verts, seed, args.checkpoint_dir,
            run_id=args.run_id, max_supersteps=args.max_supersteps, resume=resume,
        )
        out = (
            res.state.where(F.col("dist") < UNREACHED)
            .join(verts, "vertex_id").select("role", "dist")
        )
    elif args.algorithm == "sssp":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import UNREACHED, shortest_paths

        seed = _seed(args.bfs_sources, verts)
        wund = E.weighted_undirect(contacts, verts)  # edge cost: positive long
        res = shortest_paths(
            spark, wund, verts, seed, args.checkpoint_dir,
            run_id=args.run_id, max_supersteps=args.max_supersteps, resume=resume,
        )
        out = (
            res.state.where(F.col("dist") < UNREACHED)
            .join(verts, "vertex_id").select("role", "dist")
        )
    elif args.algorithm == "kcore":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import k_core

        res = k_core(
            spark, E.undirect(enc), verts, args.k, args.checkpoint_dir,
            run_id=args.run_id, max_supersteps=args.max_supersteps, resume=resume,
        )
        out = res.state.join(verts, "vertex_id").select("role", "alive")
    elif args.algorithm == "ktruss":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import k_truss

        # k_truss wants canonical undirected edges (src < dst, one row per
        # pair); enc is canonical in role space — re-canonicalize in id
        # space so a non-order-preserving encoding can't violate that.
        canon = enc.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).distinct()
        res = k_truss(
            spark, canon, args.k, args.checkpoint_dir,
            run_id=args.run_id, max_supersteps=args.max_supersteps, resume=resume,
        )
        vsrc = verts.select(F.col("vertex_id").alias("src"), F.col("role").alias("src_role"))
        vdst = verts.select(F.col("vertex_id").alias("dst"), F.col("role").alias("dst_role"))
        out = (
            res.state.join(vsrc, "src").join(vdst, "dst")
            .select("src_role", "dst_role", "alive")
        )
    elif args.algorithm == "anf":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import neighborhood_function, nf_long

        res = neighborhood_function(
            spark, E.undirect(enc), verts, args.max_radius, args.checkpoint_dir,
            method=args.nf_method, run_id=args.run_id, resume=resume,
        )
        out = nf_long(res.state).join(verts, "vertex_id").select(
            "role", "radius", "reached"
        )
    elif args.algorithm == "walks":
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import random_walks, walks_to_corpus

        # walks run in role space directly: the corpus IS the user-facing
        # artifact, so emit readable role tokens without a decode join
        res = random_walks(
            spark, contacts.select("src", "dst"), args.checkpoint_dir,
            num_walks=args.num_walks, walk_length=args.walk_length,
            run_id=args.run_id, resume=resume,
        )
        out = walks_to_corpus(res.state).select(
            F.col("start").alias("walk_start"), F.col("widx").alias("walk_idx"),
            "step", "vertex",
        )
    elif args.algorithm == "clustering":
        from sharetrace_giraph_spark.algorithms import clustering_coefficient

        res = None
        out = (
            clustering_coefficient(spark, enc, verts)
            .join(verts, "vertex_id")
            .select("role", "deg", "n_triangles", "lcc")
        )
    elif args.algorithm in ("edge_jaccard", "adamic_adar"):
        import pyspark.sql.functions as F

        from sharetrace_giraph_spark.algorithms import edge_adamic_adar, edge_jaccard

        res = None
        scores = (
            edge_jaccard(enc) if args.algorithm == "edge_jaccard"
            else edge_adamic_adar(enc)
        )
        vsrc = verts.select(F.col("vertex_id").alias("src"), F.col("role").alias("src_role"))
        vdst = verts.select(F.col("vertex_id").alias("dst"), F.col("role").alias("dst_role"))
        out = scores.join(vsrc, "src").join(vdst, "dst").drop("src", "dst")
    elif args.algorithm == "lpa":
        from sharetrace_giraph_spark.algorithms import label_propagation

        res = label_propagation(
            spark, E.undirect(enc), verts, args.checkpoint_dir, run_id=args.run_id,
            max_supersteps=args.max_supersteps, resume=resume,
        )
        out = res.state.join(verts, "vertex_id").select("role", "label")
    elif args.algorithm == "triangles":
        from sharetrace_giraph_spark.algorithms import triangles

        total, per_vertex = triangles(spark, enc, verts)
        res = None
        out = per_vertex.join(verts, "vertex_id").select("role", "n_triangles")
    else:  # risk_prop
        from sharetrace_giraph_spark.algorithms import final_scores, risk_propagation

        if json_scores is not None:
            scores = json_scores
        elif args.transcripts:
            scores = spark.read.parquet(args.transcripts + ".scores")
        else:
            scores = datagen.tiny_fixture_scores(spark)
        res = risk_propagation(
            spark, contacts, scores, args.checkpoint_dir, run_id=args.run_id,
            max_supersteps=args.max_supersteps, resume=resume, **tol,
        )
        out = final_scores(res.state)

    out.write.mode("overwrite").parquet(args.output)
    if args.factor_graph_json and args.algorithm == "risk_prop":
        from sharetrace_giraph_spark.sources import jsonlines

        jsonlines.write_variable_scores(out, args.output + "-jsonl")
    summary = {
        "algorithm": args.algorithm,
        "rows": out.count(),
    }
    if res is not None:
        summary.update(
            supersteps=res.supersteps_run,
            converged=res.converged,
            l1_delta=res.l1_delta,
            resumed_from=res.resumed_from,
            wall_s=round(res.wall_s, 3),
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
