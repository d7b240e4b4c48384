#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

plus graph-throughput fields (supersteps_per_sec, edges_per_sec) — the
BASELINE.json target metric for PageRank+CC over the transcript-derived
edge table.

Noise protocol (round 3, frozen query set unchanged): the set is run
--runs times (default 3) in one session; "queries"/"value" report the
per-query MIN (quiet-host estimate), "queries_mean"/"run_totals" the
noise band, "run_compilations" the generated classes each run compiled
(the cold first run compiles the working set; a warm run, nothing), and
"loadavg_start"/"loadavg_end"/"load_warning" record host co-tenancy so
any run can be adjudicated after the fact (r02's 269 s vs 90 s ambiguity
is what this fixes).

--scaling mode: runs the identical graph job at local[1], local[4],
local[8], and local[32] (separate subprocesses, so each gets a fresh JVM)
on the SAME synthetic input with pinned 32-way partitioning and reports
throughput at each plus scaling efficiency (throughput@4N / throughput@N)
/ 4 for the 1->4 (primary) and 8->32 (secondary) pairs — the sandbox
evidence protocol for the north rule's N->4N >= 0.8 requirement (see
BASELINE.md and BENCH.md). Writes BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# graph workload scale knobs (per sf unit)
CONVS_PER_SF = 150_000
ACTORS_PER_SF = 30_000
TURNS_PER_CONV = 20
PR_SUPERSTEPS = 10


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.1


def build_graph(spark, sf: float, num_partitions: int):
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.operators import edges as E

    t = datagen.generate_transcripts(
        spark,
        n_convs=max(200, int(CONVS_PER_SF * sf)),
        turns_per_conv=TURNS_PER_CONV,
        n_actors=max(40, int(ACTORS_PER_SF * sf)),
        n_communities=max(4, int(64 * sf)),
        n_hubs=3,
        seed=42,
        num_partitions=num_partitions,
    )
    # persist the derived contact table once (STATIC_GRAPH analog): vertex
    # encoding, edge encoding, and the algorithms all re-evaluate it
    contacts = E.derive_contacts(t).persist()
    verts = E.vertex_ids(contacts)
    enc = E.encode_edges(contacts, verts)
    return t, contacts, verts, enc


def run_graph_bench(spark, sf: float, cores: int, ckpt: str, run_idx: int = 0) -> dict:
    from sharetrace_giraph_spark.algorithms import connected_components, pagerank, triangles
    from sharetrace_giraph_spark.operators import edges as E

    out: dict = {}

    t0 = time.monotonic()
    t, contacts, verts, enc = build_graph(spark, sf, cores)
    und = E.undirect(enc).persist()
    n_edges_directed = und.count()
    n_vertices = verts.count()
    out["edge_derivation"] = round(time.monotonic() - t0, 3)
    out["_n_vertices"] = n_vertices
    out["_n_edges_directed"] = n_edges_directed

    t0 = time.monotonic()
    # checkpoint_every=2 matches the scaling protocol (BASELINE.md): durable
    # checkpoint every other superstep, in-memory lineage truncation between
    pr = pagerank(
        spark, und, verts, ckpt, run_id=f"bench-pr-{run_idx}",
        tolerance=0.0, max_supersteps=PR_SUPERSTEPS, resume=False,
        checkpoint_every=2,
    )
    pr_s = time.monotonic() - t0
    out["pagerank_10_supersteps"] = round(pr_s, 3)
    out["_pr_supersteps_per_sec"] = round(PR_SUPERSTEPS / pr_s, 4)
    out["_pr_edges_per_sec"] = round(n_edges_directed * PR_SUPERSTEPS / pr_s, 1)

    t0 = time.monotonic()
    cc = connected_components(
        spark, und, verts, ckpt, run_id=f"bench-cc-{run_idx}", max_supersteps=30,
        resume=False, checkpoint_every=2,
    )
    cc_s = time.monotonic() - t0
    out["connected_components"] = round(cc_s, 3)
    out["_cc_supersteps"] = cc.supersteps_run
    out["_cc_supersteps_per_sec"] = round(cc.supersteps_run / cc_s, 4)
    out["_cc_edges_per_sec"] = round(n_edges_directed * cc.supersteps_run / cc_s, 1)

    t0 = time.monotonic()
    total, per_vertex = triangles(spark, enc, verts)
    per_vertex.count()
    out["triangles"] = round(time.monotonic() - t0, 3)
    out["_n_triangles"] = total

    und.unpersist()
    contacts.unpersist()
    return out


def run_relational_bench(spark, sf_dir: str) -> dict:
    import __spark_entry__ as em

    names = [
        "groupby_multi_agg",
        "filtered_sum_pushdown",
        "join_agg_revenue",
        "top1_per_key",
        "sessionize",
        "theta_self_join_pairs",
        "contacts_summary",
        # training-data pipeline ops (documents/embeddings tables)
        "dedup_exact",
        "dedup_minhash_lsh",
        "text_quality",
        "sim_topk_bruteforce",
    ]
    qs = em.queries()
    out = {}
    for name in names:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.monotonic() - t0, 3)
    return out


def run_edges_bench(spark, cores: int, n_edges: int, ckpt: str,
                    partitions: int | None = None,
                    checkpoint_every: int = 2) -> dict:
    """Superstep-engine throughput on a directly-synthesized edge table —
    the workload for the N-vs-4N scaling evidence (compute-bound: the
    transcript-derivation stage is measured separately in the sf bench).

    ``partitions`` pins data/shuffle partitioning independently of the
    core count. The scaling protocol REQUIRES this: on a real cluster the
    table's partitioning is fixed and only executor slots scale, so the
    per-task combiner output (and hence shuffle volume) is identical at N
    and 4N; letting partitions track cores would make shuffle volume grow
    with parallelism and measure an artifact instead."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.algorithms import connected_components, pagerank

    partitions = partitions or cores * 2
    n_vertices = max(1000, n_edges // 40)
    canon = datagen.generate_edges(spark, n_edges // 2, n_vertices, num_partitions=partitions)
    # the domain shape: undirected contact graph (both directions present,
    # so no dangling vertices and no per-superstep dangling-mass pass; the
    # timing below still includes pagerank's one setup job that finds no
    # dangling vertex)
    edges = canon.union(canon.selectExpr("dst AS src", "src AS dst"))
    verts = canon.selectExpr("src AS vertex_id").union(
        canon.selectExpr("dst AS vertex_id")
    ).distinct()

    out: dict = {"_n_edges_directed": n_edges, "_n_vertices": n_vertices}

    def steady(metrics: list[dict], warmup: int = 2) -> float:
        """MEAN seconds/superstep after warmup (first supersteps carry
        JIT + cache warmup). Mean, not median: with checkpoint_every=k>1
        supersteps alternate between cheap in-memory and durable parquet
        checkpoints, and the mean is what amortized throughput actually is."""
        rows = metrics[warmup:] if len(metrics) > warmup + 1 else metrics
        return sum(m["wall_ms"] for m in rows) / len(rows) / 1000.0

    t0 = time.monotonic()
    pr = pagerank(
        spark, edges, verts, ckpt, run_id="scal-pr",
        tolerance=0.0, max_supersteps=12, resume=False,
        num_partitions=partitions, checkpoint_every=checkpoint_every,
    )
    out["pagerank_12_supersteps"] = round(time.monotonic() - t0, 3)
    out["_pr_steps_ms"] = [m["wall_ms"] for m in pr.metrics]
    pr_step = steady(pr.metrics)
    out["_pr_supersteps_per_sec"] = round(1 / pr_step, 4)
    out["_pr_edges_per_sec"] = round(n_edges / pr_step, 1)
    # noise-robust secondary estimator: co-tenant contamination only ever
    # ADDS wall time, so the MIN superstep wall estimates the uncontaminated
    # per-superstep cost. Every post-warmup superstep runs the same plan on
    # the full frontier, but with checkpoint_every=k>1 steps alternate cheap
    # in-memory (localCheckpoint) and durable parquet checkpoints, and min()
    # selects a NON-durable step — so this metric is the non-checkpoint
    # per-superstep cost, an OVERestimate of amortized absolute throughput.
    # The cross-level efficiency ratio (same estimator at both levels)
    # remains comparable; _pr_edges_per_sec_minstep_durable reports the
    # durable-step min alongside for the absolute picture.
    pr_rows = pr.metrics[1:] or pr.metrics
    pr_min_step = min(m["wall_ms"] for m in pr_rows) / 1000.0
    out["_pr_edges_per_sec_minstep"] = round(n_edges / pr_min_step, 1)
    durable_rows = [
        m for m in pr_rows
        if (m["superstep"] + 1) % checkpoint_every == 0
        or m["superstep"] == pr.metrics[-1]["superstep"]
    ]
    if durable_rows:
        pr_min_durable = min(m["wall_ms"] for m in durable_rows) / 1000.0
        out["_pr_edges_per_sec_minstep_durable"] = round(n_edges / pr_min_durable, 1)

    t0 = time.monotonic()
    cc = connected_components(
        spark, edges, verts, ckpt, run_id="scal-cc", max_supersteps=12, resume=False,
        num_partitions=partitions, checkpoint_every=checkpoint_every,
    )
    # frontier CC's supersteps shrink geometrically, so a per-superstep
    # "steady state" would measure the near-empty tail; the honest
    # throughput is whole-job: nominal edges x supersteps / total wall
    cc_wall = time.monotonic() - t0
    # superstep COUNT is metadata, not seconds — keep it out of the
    # public dict so the headline wall-time sum stays a sum of times
    out["_cc_supersteps"] = cc.supersteps_run
    out["_cc_steps_ms"] = [m["wall_ms"] for m in cc.metrics]
    out["cc_wall"] = round(cc_wall, 3)
    out["_cc_supersteps_per_sec"] = round(cc.supersteps_run / cc_wall, 4)
    out["_cc_edges_per_sec"] = round(n_edges * cc.supersteps_run / cc_wall, 1)
    # noise-robust secondary estimator for the efficiency ratio: CC's
    # frontier shrinks geometrically, but the per-step frontier sizes are
    # deterministic and identical at every core count, so any single step
    # is cross-level comparable. Step 1 is the cleanest: full frontier
    # (largest work, smallest relative contamination) and warm (CC runs
    # after the whole PageRank job in the same JVM).
    out["_cc_step1_edges_per_sec"] = round(
        n_edges / (cc.metrics[0]["wall_ms"] / 1000.0), 1
    )
    return out


def run_docs_bench(spark, cores: int, n_docs: int,
                   partitions: int | None = None) -> dict:
    """Full near-dup pipeline throughput (minhash → banded LSH → exact-
    Jaccard verify, production config: max_bucket_size=64 skew guard with
    the loud census active) on a directly-synthesized corpus — the
    training-data-surface twin of ``run_edges_bench`` for N-vs-4N scaling
    evidence. The corpus plants real work: every 5-doc group is a true
    near-dup cluster (within-group shingle Jaccard ~0.8 → ~2·n_docs
    verified pairs) plus one pathological 1000-member exact-duplicate
    cluster that the bucket cap must exclude WITHOUT the wall going
    quadratic. Partitioning is pinned independently of cores (same
    protocol rationale as run_edges_bench). Two timed passes, MIN kept
    (contamination only adds wall); pass 1 doubles as JIT warmup."""
    from sharetrace_giraph_spark import datagen
    from sharetrace_giraph_spark.operators.dedup import BUCKETS, minhash_near_duplicates
    from sharetrace_giraph_spark.plans.cache import release

    partitions = partitions or 32
    n_giant = min(1000, max(0, n_docs // 100))
    docs = datagen.generate_docs(
        spark, n_docs, n_giant_dups=n_giant, num_partitions=partitions
    )
    walls: list[float] = []
    n_pairs = 0
    for _ in range(2):
        t0 = time.monotonic()
        n_pairs = minhash_near_duplicates(
            docs, threshold=0.7, max_bucket_size=64, log_dropped=True
        ).count()
        walls.append(round(time.monotonic() - t0, 3))
        release(BUCKETS)
    best = min(walls)
    return {
        "dedup_pipeline": best,
        "_n_docs": n_docs,
        "_n_giant_dups": n_giant,
        "_near_dup_pairs": n_pairs,
        "_docs_per_sec": round(n_docs / best, 1),
        "_walls": walls,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))
    ap.add_argument("--graph-only", action="store_true")
    ap.add_argument("--edges-bench", action="store_true",
                    help="superstep throughput on a synthetic edge table (scaling workload)")
    ap.add_argument("--n-edges", type=int, default=40_000_000)
    ap.add_argument("--docs-bench", action="store_true",
                    help="near-dup dedup pipeline throughput on a synthetic "
                         "corpus (training-data scaling workload)")
    ap.add_argument("--n-docs", type=int, default=300_000)
    ap.add_argument("--partitions", type=int, default=None,
                    help="pin data/shuffle partitions independently of cores "
                         "(scaling protocol: same partitioning at every level)")
    ap.add_argument("--checkpoint-every", type=int, default=2,
                    help="durable checkpoint cadence for the edges-bench loop "
                         "(Giraph checkpointFrequency analog; in-between "
                         "supersteps truncate lineage via partition-carrying "
                         "localCheckpoint)")
    ap.add_argument("--scaling", action="store_true",
                    help="run at local[1]/local[4]/local[8]/local[32], write BENCH.md")
    ap.add_argument("--runs", type=int, default=3,
                    help="repeat the frozen query set N times and report per-query "
                         "MIN (headline) + mean; co-tenant-noise protocol, see BENCH.md")
    args = ap.parse_args()

    if args.scaling:
        run_scaling(args.n_edges)
        return

    from sharetrace_giraph_spark.session import codegen_compilations, get_spark

    spark = get_spark(
        app_name="sharetrace-bench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.partitions or args.cores,
    )
    sf = _sf_of(args.sf_dir)
    ckpt = tempfile.mkdtemp(prefix="bench-ckpt-")
    # co-tenant-noise protocol (BENCH.md): record host load so any run can
    # be adjudicated after the fact, warn loudly when the box is busy, and
    # take best-of-N per query — MIN is the quiet-host number, mean shows
    # the noise band. Query set itself is FROZEN (unchanged since r01).
    # Round 5: the frozen set gets the same bounded quiet-gate the scaling
    # runner uses (the driver launches this right after a loaded session,
    # which made every headline start with load_warning=true); the
    # edges/docs sub-benches are gated by their parent runners already.
    quiet_wait = 0.0
    if not (args.edges_bench or args.docs_bench):
        quiet_wait = _wait_for_quiet(max_load1=0.9, timeout_s=600)
    load_start = os.getloadavg()
    steal0, jiff0 = _read_cpu_jiffies()
    if load_start[0] > 1.0:
        print(
            f"WARNING: 1-min loadavg {load_start[0]:.2f} > 1 at bench start — "
            "co-tenant load will inflate walls; numbers are suspect",
            file=sys.stderr,
        )
    try:
        if args.edges_bench or args.docs_bench:
            if args.edges_bench:
                queries = run_edges_bench(
                    spark, args.cores, args.n_edges, ckpt, args.partitions,
                    checkpoint_every=args.checkpoint_every,
                )
            else:
                queries = run_docs_bench(
                    spark, args.cores, args.n_docs, args.partitions,
                )
            public = {k: v for k, v in queries.items() if not k.startswith("_")}
            meta = {k[1:]: v for k, v in queries.items() if k.startswith("_")}
            q_min, q_mean, run_walls = public, None, None
        else:
            per_run: list[dict] = []
            meta = {}
            # codegen cache misses per run: the cold run compiles the
            # working set, a warm run should compile nothing
            run_compilations = []
            for run_idx in range(max(1, args.runs)):
                compiled0 = codegen_compilations(spark)
                q: dict = dict(run_graph_bench(spark, sf, args.cores, ckpt, run_idx))
                if not args.graph_only:
                    q.update(run_relational_bench(spark, args.sf_dir))
                run_compilations.append(codegen_compilations(spark) - compiled0)
                meta.update({k[1:]: v for k, v in q.items() if k.startswith("_")})
                per_run.append({k: v for k, v in q.items() if not k.startswith("_")})
            q_min = {k: min(r[k] for r in per_run) for k in per_run[0]}
            q_mean = {
                k: round(sum(r[k] for r in per_run) / len(per_run), 3)
                for k in per_run[0]
            }
            run_walls = [round(sum(r.values()), 3) for r in per_run]
        total = round(sum(q_min.values()), 3)
        out = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": q_min,
            "sf": sf,
            "cores": args.cores,
            "n_runs": len(run_walls) if run_walls else 1,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "load_warning": load_start[0] > 1.0,
            "quiet_wait_s": quiet_wait,
            **meta,
        }
        steal1, jiff1 = _read_cpu_jiffies()
        if jiff1 > jiff0:
            # % of ALL host cpu-time the hypervisor withheld during the
            # run — co-tenant VM activity invisible to loadavg
            out["steal_pct"] = round(100.0 * (steal1 - steal0) / (jiff1 - jiff0), 2)
        if run_walls:
            out["queries_mean"] = q_mean
            out["run_totals"] = run_walls
            out["run_compilations"] = run_compilations
        print(json.dumps(out))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _read_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line.

    Steal is the contamination signal loadavg cannot see on this
    virtualised box: a co-tenant VM burning the host's physical cores
    shows up as %st (hypervisor withheld cycles), not as local runnable
    tasks. Returns (0, 0) when /proc/stat is unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _wait_for_quiet(max_load1: float = 0.7, timeout_s: int = 1800,
                    max_steal_pct: float = 0.5) -> float:
    """Block until the 1-min loadavg drops below ``max_load1`` AND a 20 s
    sample of hypervisor steal stays below ``max_steal_pct`` (or the
    timeout expires). Same rationale as the best-of-3 / loadavg fields on
    the headline bench: a scaling ratio measured while a co-tenant burns
    cores is unadjudicable after the fact (round-2 lesson — the driver's
    BENCH_r02 ran at load >2 and showed a phantom 3.9x regression). The
    steal leg exists because loadavg only sees THIS VM's runnable tasks;
    a co-tenant VM contaminates walls through hypervisor steal and shared
    memory bandwidth, visible only as %st (round-3 lesson — an 80M-edge
    level run at 1.5-3.2 % avg steal showed identical supersteps swinging
    23->88 s). Returns the seconds waited."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if os.getloadavg()[0] < max_load1:
            s0, j0 = _read_cpu_jiffies()
            time.sleep(20)
            s1, j1 = _read_cpu_jiffies()
            steal = 100.0 * (s1 - s0) / max(1, j1 - j0)
            if steal < max_steal_pct and os.getloadavg()[0] < max_load1:
                break
        else:
            time.sleep(20)
    return round(time.time() - t0, 1)


def run_scaling(n_edges: int) -> None:
    """N vs 4N evidence: the identical superstep job on the identical
    synthetic edge table at local[1], local[4], local[8], and local[32],
    each in its own JVM, with data/shuffle partitioning pinned at 32.
    Primary pair = 1 -> 4 cores (both levels CPU-bound — the cleanest
    single-box proxy for adding executors); 8 -> 32 is reported as a
    second data point (it saturates the box's shared memory bandwidth —
    see BENCH.md). Each level is quiet-gated: the runner waits for the
    1-min loadavg to drop below 0.7 before launching the level's JVM, and
    the per-level JSON records loadavg at start/end so contaminated runs
    are identifiable.

    The gate protects a level's START only; co-tenant load (or hypervisor
    steal, which loadavg cannot see) arriving MID-level still poisons it.
    So the primary-pair levels (1 and 4 cores) run best-of-2: contention
    can only LOWER throughput, so the max-throughput attempt is the
    least-contaminated estimate — the exact dual of the headline bench's
    best-of-3 per-query MIN on wall time. Every attempt's loadavg and
    steal_pct are kept in the output for adjudication."""
    results = {}
    for cores in (1, 4, 8, 32):
        attempts = []
        n_attempts = 2 if cores in (1, 4) else 1
        for _ in range(n_attempts):
            waited = _wait_for_quiet()
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--edges-bench",
                 "--n-edges", str(n_edges), "--cores", str(cores),
                 "--partitions", "32"],
                capture_output=True, text=True, env=env, check=True,
            )
            line = proc.stdout.strip().splitlines()[-1]
            att = json.loads(line)
            att["quiet_wait_s"] = waited
            attempts.append(att)
        # PR and CC run sequentially inside one attempt, so a noise burst
        # can poison one and spare the other — pick per-algorithm best
        best = dict(max(attempts, key=lambda a: a["pr_edges_per_sec"]))
        cc_best = max(attempts, key=lambda a: a["cc_edges_per_sec"])
        for k in ("cc_edges_per_sec", "cc_supersteps_per_sec", "cc_wall",
                  "cc_supersteps"):
            if k in cc_best:
                best[k] = cc_best[k]
        if len(attempts) > 1:
            best["all_attempts"] = [
                {k: a.get(k) for k in ("pr_edges_per_sec", "cc_edges_per_sec",
                                       "loadavg_start", "loadavg_end",
                                       "steal_pct", "quiet_wait_s")}
                for a in attempts
            ]
        results[cores] = best

    def eff(lo: int, hi: int, key: str) -> float:
        return round(
            (results[hi][key] / results[lo][key]) / (hi / lo), 4
        )

    report = {
        "metric": "scaling_efficiency",
        "primary_pair_cores": [1, 4],
        "pagerank": {
            **{f"edges_per_sec@{c}": results[c]["pr_edges_per_sec"] for c in results},
            **{f"supersteps_per_sec@{c}": results[c]["pr_supersteps_per_sec"] for c in results},
            "efficiency_1_to_4": eff(1, 4, "pr_edges_per_sec"),
            "efficiency_8_to_32": eff(8, 32, "pr_edges_per_sec"),
            # no-overlap corroboration: the cheapest superstep pays no
            # checkpoint write at any level, so this ratio isolates the
            # compute loop from the pipelined-snapshot effect
            "efficiency_1_to_4_minstep": eff(1, 4, "pr_edges_per_sec_minstep"),
        },
        "connected_components": {
            **{f"edges_per_sec@{c}": results[c]["cc_edges_per_sec"] for c in results},
            "efficiency_1_to_4": eff(1, 4, "cc_edges_per_sec"),
            "efficiency_8_to_32": eff(8, 32, "cc_edges_per_sec"),
        },
        "n_vertices": results[1]["n_vertices"],
        "n_edges_directed": results[1]["n_edges_directed"],
    }
    print(json.dumps(report))
    _write_bench_md(report, results)


def _write_bench_md(report: dict, results: dict) -> None:
    p = report["pagerank"]
    c = report["connected_components"]
    rows = "\n".join(
        f"| local[{cores}] | {results[cores]['pr_edges_per_sec']:,} | "
        f"{results[cores]['pr_supersteps_per_sec']} | "
        f"{results[cores]['cc_edges_per_sec']:,} |"
        for cores in sorted(results)
    )
    md = f"""# BENCH — scaling evidence (sandbox protocol, see BASELINE.md)

No real cluster exists in this sandbox, so the north rule's "N and 4N
executors" criterion is evidenced by running the IDENTICAL checkpointed
superstep job (same deterministic synthetic edge table: V =
{report['n_vertices']:,}, E_directed = {report['n_edges_directed']:,},
hub-skewed, SAME fixed 32-way data/shuffle partitioning at every level —
on a real cluster the table's partitioning is fixed and only executor
slots scale) at four parallelism levels, each in a fresh JVM. The job
takes a durable checkpoint every 2 supersteps (Giraph's
checkpointFrequency analog; every superstep is materialized by an eager
localCheckpoint that truncates lineage AND carries the state's hash
partitioning into the next superstep, so each superstep plans exactly
one exchange; durable steps add a scan-and-write of the materialized
rows issued by a background thread that overlaps the next superstep's
compute — pipelined snapshotting) — identical cadence at every level.
Noise protocol: every level is quiet-gated on 1-min loadavg < 0.7, the
primary-pair levels (1, 4 cores) run best-of-2 with per-algorithm max
throughput kept (contention only ever slows a run), and each attempt
records loadavg start/end plus hypervisor steal_pct — the raw JSON
below adjudicates any level after the fact.
PageRank throughput is the MEAN steady-state superstep rate (first 2
supersteps excluded: JIT + cache warmup; mean, because supersteps
alternate cheap/durable checkpoints and amortized throughput is the
honest number). Connected-components throughput is whole-job (nominal
edges x supersteps / total wall) because its frontier messaging makes
late supersteps intentionally near-empty. Efficiency(N->4N) =
(throughput@4N / throughput@N) / 4; the acceptance bar (BASELINE.md) is
>= 0.8 PER ALGORITHM on the primary 1 -> 4 pair — no blended metric.

| parallelism | PageRank edges/sec | PageRank supersteps/sec | CC edges/sec (whole job) |
|---|---|---|---|
{rows}

| pair | PageRank efficiency | CC efficiency |
|---|---|---|
| **local[1] -> local[4] (N -> 4N, primary)** | **{p['efficiency_1_to_4']}** | **{c['efficiency_1_to_4']}** |
| local[8] -> local[32] (secondary) | {p['efficiency_8_to_32']} | {c['efficiency_8_to_32']} |

Reading the PageRank mean-rate ratio: the durable snapshot write can
only hide behind the next superstep's compute when idle task slots
exist. At local[1] there are none — the background write's tasks
interleave with the following superstep on the single slot, so its
full cost still lands on the critical path — while at 4+ cores the
write disappears into spare slots, which can push the mean-rate ratio
above 1.0. That is genuine pipelining (the same effect extra executors
buy on a real cluster), not an estimator artifact; the no-overlap
corroboration is the MIN-step estimator (the cheapest superstep pays
no write at any level): `pr_edges_per_sec_minstep` gives
{results[1]['pr_edges_per_sec_minstep']:,} @1 vs
{results[4]['pr_edges_per_sec_minstep']:,} @4 — **efficiency
{p['efficiency_1_to_4_minstep']}** for the compute loop itself,
independent of the checkpoint-overlap effect. The secondary 8 -> 32
falloff is the shared-memory-bus artifact described below: at 32 cores
the per-superstep wall bottoms out near this box's fixed scheduling
floor (~2 s), which a {report['n_edges_directed'] // 1000000}M-edge
job cannot amortize — at 100-TB per-executor data volumes that floor
is noise.

## Why the primary pair is 1 -> 4

Both runs in a pair must be limited by the resource that executors
multiply on a real cluster: CPU cores with their own memory channels.
On this single box, 1 and 4 threads leave the shared memory bus far
from saturation, so 1 -> 4 measures what adding executors measures.
8 -> 32 instead saturates the box's memory bandwidth: every shuffle
row, hash probe, and parquet page crosses ONE memory controller shared
by all 32 threads, where a real 4N-executor cluster brings 4N
independent memory buses and disks. Task counts, combiner output, and
shuffle volume are byte-identical across all four levels (pinned
32-way partitioning), so the high-core falloff is purely that
hardware-sharing artifact, not a property of the plan. Run-to-run
variance on this shared box is ±5-10%; the full per-level JSON below
includes raw per-superstep walls for inspection.

## Kernel choice (measured, same protocol, 80M directed edges)

PageRank steady-state, relational join+agg kernel vs a per-partition
CSR Arrow kernel (an `applyInPandas` cogroup):

| kernel | edges/sec @ local[8] | edges/sec @ local[32] |
|---|---|---|
| relational | 9,798,218 | 20,473,448 |
| csr (removed) | 1,283,702 | 6,981,564 |

The CSR kernel paid an Arrow JVM->Python exchange of the full edge
table every superstep; the relational kernel keeps the loop inside
whole-stage codegen and ships only vertex-state rows. On these numbers
(7.6x slower at local[8], 2.9x at local[32]) the CSR kernel was
removed, and PageRank has one kernel. It comes back only with a
workload on which it wins.

Full per-cores JSON:

```json
{os.linesep.join(json.dumps(results[cs]) for cs in sorted(results))}
```
"""
    # preserve everything appended after the generated scaling evidence
    # (consecutive-run history, round-over-round delta table, protocol
    # notes) across re-runs
    out_path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(out_path):
        existing = open(out_path).read()
        idx = min(
            (i for i in (
                existing.find("## Consecutive scaling runs"),
                existing.find("## Headline per-query delta"),
            ) if i != -1),
            default=-1,
        )
        if idx != -1:
            tail = "\n" + existing[idx:]
    with open(out_path, "w") as f:
        f.write(md + tail)


if __name__ == "__main__":
    main()
