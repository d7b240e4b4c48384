"""The benchmark's workloads: seeded inputs, the pipeline each run executes,
and the checks of its outputs.

A workload object owns one Spark session's inputs. ``stage()`` generates
the inputs from the seed and writes them where a run reads them;
``run()`` executes one full pipeline from staged input to results written
to the sink; ``verify()`` checks a run's sink tables against an
independent oracle; ``fingerprint()`` gives an order-independent digest of
them, so later runs can be compared with the first, verified run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from spans import Tracer

#: input sizes per scale; "tiny" exists for the benchmark's own smoke tests
SCALES = {
    "risk_bp": {"full": {"events": 3000, "users": 60}, "tiny": {"events": 300, "users": 12}},
    "graph_sparse": {
        "full": {"convs": 1500, "actors": 300},
        "tiny": {"convs": 60, "actors": 24},
    },
}

#: superstep caps of graph_sparse's fixed-length iterations
PAGERANK_SUPERSTEPS = 3
LPA_SUPERSTEPS = 2

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype("int64"))


def generate_events(n_events: int, n_users: int, seed: int) -> pd.DataFrame:
    """Events shaped like the ``events`` test table of ``__spark_entry__``: uniform
    users, 5 event types, timestamps uniform over 30 days."""
    rng = np.random.default_rng(seed)
    ts = DAY0_US + rng.integers(0, 30 * 86400 * 10**6, n_events)
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": rng.random(n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def persist_count(df):
    """What every caller of a lazily planned result does before reusing it."""
    df = df.persist()
    df.count()
    return df


def frames_equal(expected: pd.DataFrame, got: pd.DataFrame, keys: list[str],
                 atol: dict[str, float] | None = None) -> str | None:
    """None when the two frames hold the same rows, else a reason. Columns
    named in ``atol`` compare within that absolute tolerance, the rest exactly."""
    atol = atol or {}
    if list(expected.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(expected.columns)}"
    if len(expected) != len(got):
        return f"{len(got)} rows != {len(expected)}"
    e = expected.sort_values(keys).reset_index(drop=True)
    g = got.sort_values(keys).reset_index(drop=True)
    for col in e.columns:
        if col in atol:
            ok = np.allclose(g[col].to_numpy(float), e[col].to_numpy(float), rtol=0, atol=atol[col])
        else:
            ok = (e[col].to_numpy() == g[col].to_numpy()).all()
        if not ok:
            return f"column {col} differs"
    return None


@dataclass
class RunResult:
    run_id: str
    run_s: float
    supersteps: dict = field(default_factory=dict)  # alg -> SuperstepResult
    directed_edges: int = 0
    sinks: dict = field(default_factory=dict)  # logical name -> warehouse table
    cached: list = field(default_factory=list)
    contacts: object = None
    transcripts: object = None
    ckpt: str = ""

    def edge_steps(self) -> tuple[float, float]:
        """(directed edges × supersteps, seconds) over the iterative algorithms."""
        steps = sum(r.supersteps_run for r in self.supersteps.values())
        wall = sum(r.wall_s for r in self.supersteps.values())
        return float(self.directed_edges * steps), wall


class Workload:
    name = ""
    #: measured runs of one invocation at least, whatever ``--seconds`` says.
    #: Warm runs still get faster for several runs while the JVM compiles
    #: (the first warm run takes 15-30% longer than the fourth), so a fixed
    #: count of them compares across invocations better than a count that
    #: follows the machine's speed. The counts keep an invocation near a
    #: minute on a shared 4-core machine.
    measured_runs = 3
    session_gap_s = 0
    duration_threshold_s = 0

    def __init__(self, spark, work: str, seed: int, scale: str = "full") -> None:
        from sharetrace_giraph_spark.sources.warehouse import open_warehouse

        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SCALES[self.name][scale]
        self.wh = open_warehouse(spark, os.path.join(work, "warehouse"))

    def contacts(self, transcripts, tr: Tracer):
        from sharetrace_giraph_spark.operators.edges import derive_contacts

        return tr.span("edges.derive_contacts", lambda: persist_count(derive_contacts(
            transcripts, duration_threshold_s=self.duration_threshold_s,
            session_gap_s=self.session_gap_s)))

    def cleanup(self, res: RunResult) -> None:
        for df in res.cached:
            df.unpersist()
        shutil.rmtree(res.ckpt, ignore_errors=True)
        for table in res.sinks.values():
            shutil.rmtree(os.path.join(self.wh.root, table), ignore_errors=True)

    def fingerprint(self, res: RunResult) -> tuple:
        """Row count and an order-independent hash sum per sink table,
        floats rounded to 9 decimals as ``__spark_entry__``'s queries do."""
        out = []
        for logical in sorted(res.sinks):
            df = self.wh.read_table(res.sinks[logical])
            cols = [F.round(c, 9) if t in ("double", "float") else F.col(c)
                    for c, t in df.dtypes]
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            ).first()
            out.append((logical, int(row["n"]), str(row["h"])))
        return tuple(out)

    def layer_counts(self, res: RunResult) -> dict[str, float]:
        """Work counts per layer, computed outside any timed span."""
        from sharetrace_giraph_spark.operators.edges import sessionize

        spans = (sessionize(res.transcripts, self.session_gap_s)
                 .groupBy("conv_id", "session_id", "role").count())
        per_session = spans.groupBy("conv_id", "session_id").agg(F.count(F.lit(1)).alias("n"))
        s = per_session.select(
            F.count(F.lit(1)).alias("sessions"),
            F.sum("n").alias("spans"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
        ).first()
        c = res.contacts.select(
            F.count(F.lit(1)).alias("contacts"),
            F.sum(F.size("occurrences")).alias("occ"),
        ).first()
        pairs = float(s["pairs"] or 0)
        out = {
            "edges.sessions": float(s["sessions"]),
            "edges.spans": float(s["spans"]),
            "edges.candidate_pairs": pairs,
            "edges.occurrences": float(c["occ"] or 0),
            "edges.contacts": float(c["contacts"]),
            "edges.pair_yield": float(c["occ"] or 0) / pairs if pairs else 0.0,
        }
        files = nbytes = 0
        for d, _, fs in os.walk(res.ckpt):
            for f in fs:
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
        out["checkpoint.bytes"] = float(nbytes)
        out["checkpoint.files"] = float(files)
        for alg, r in res.supersteps.items():
            walls = [m["wall_ms"] for m in r.metrics] or [0]
            out[f"superstep.{alg}.supersteps"] = float(r.supersteps_run)
            out[f"superstep.{alg}.step_ms_p50"] = float(statistics.median(walls))
            out[f"superstep.{alg}.step_ms_max"] = float(max(walls))
            out[f"superstep.{alg}.messages"] = float(sum(m["messages"] for m in r.metrics))
        return out


class RiskBP(Workload):
    """Events → transcripts → contacts, then contacts + per-user scores →
    risk propagation → final scores (sink): the paper's own pipeline, from
    interaction records to risk scores."""

    name = "risk_bp"
    session_gap_s = 6 * 3600
    duration_threshold_s = 0

    def stage(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.events = generate_events(self.size["events"], self.size["users"], self.seed)
        self.input_dir = os.path.join(self.work, "input")
        os.makedirs(os.path.join(self.input_dir, "events.parquet"), exist_ok=True)
        path = os.path.join(self.input_dir, "events.parquet")
        pq.write_table(pa.Table.from_pandas(self.events, preserve_index=False),
                       os.path.join(path, "part-00000.parquet"))
        # read the staged table back through Spark: checks it, and the
        # session's first-job costs land in set-up as they do for
        # graph_sparse, whose staging is a Spark write
        staged = self.spark.read.parquet(path).count()
        if staged != len(self.events):
            raise RuntimeError(f"staged {staged} of {len(self.events)} events")

    def run(self, run_id: str, tr: Tracer) -> RunResult:
        import __spark_entry__ as em
        from sharetrace_giraph_spark.algorithms import final_scores, risk_propagation

        t0 = time.monotonic()
        ckpt = os.path.join(self.work, "ckpt", run_id)
        t = em.transcripts_from_events(self.spark, self.input_dir)
        contacts = self.contacts(t, tr)
        sinks = {"scores": f"scores_{run_id}"}
        ev = self.spark.read.parquet(os.path.join(self.input_dir, "events.parquet"))
        scores = (
            ev.groupBy("user_id")
            .agg(F.min("ts").alias("update_time"))
            .select(
                F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("id"),
                "update_time",
                F.round(F.pmod(F.col("user_id"), F.lit(1000)) / 1000.0, 3).alias("value"),
            )
        )
        rp = tr.span("algorithms.risk_propagation", risk_propagation, self.spark, contacts,
                     scores, ckpt, run_id=run_id, transmission_rate=0.8, max_supersteps=5,
                     tolerance=0.0, checkpoint_every=1)
        top = tr.span("algorithms.final_scores", lambda: persist_count(final_scores(rp.state)))
        tr.span("sources.write_table", self.wh.write_table, top, sinks["scores"])
        run_s = time.monotonic() - t0
        return RunResult(run_id, run_s, {"risk_propagation": rp}, 2 * contacts.count(),
                         sinks, [contacts, top], contacts, t, ckpt)

    def oracle(self) -> dict[str, pd.DataFrame]:
        import duckdb

        import __spark_entry__ as em

        sql = em.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            con.register("events_df", self.events)
            con.execute("CREATE TABLE events AS SELECT * FROM events_df")
            contacts = con.execute(sql["contacts_summary"]).df()
            scores = con.execute(sql["graph_risk_prop"]).df()
        finally:
            con.close()
        return {"contacts": contacts, "scores": scores}

    def verify(self, res: RunResult, expected: dict[str, pd.DataFrame]) -> str | None:
        contacts = res.contacts.select(
            "src", "dst",
            F.size("occurrences").alias("n_occurrences"),
            F.aggregate("occurrences", F.lit(0).cast("long"),
                        lambda acc, o: acc + o["duration_ms"]).alias("total_duration_ms"),
        ).toPandas()
        why = frames_equal(expected["contacts"], contacts, ["src", "dst"])
        if why:
            return f"contacts: {why}"
        got = self.wh.read_table(res.sinks["scores"]).select(
            F.col("vertex_id").alias("role"),
            F.round("value", 9).alias("value"),
            F.unix_timestamp("update_time").alias("update_s"),
        ).toPandas()
        why = frames_equal(expected["scores"], got, ["role"])
        return f"scores: {why}" if why else None

    def layer_counts(self, res: RunResult) -> dict[str, float]:
        out = super().layer_counts(res)
        state = os.path.join(res.ckpt, res.run_id, "risk_propagation", "state")
        steps = sorted(int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("superstep="))
        for tag, k in (("first", steps[0]), ("last", steps[-1])):
            snap = self.spark.read.parquet(os.path.join(state, f"superstep={k}"))
            out[f"risk.state_rows_{tag}"] = float(snap.select(F.sum(F.size("scores"))).first()[0])
        return out


class GraphSparse(Workload):
    """Generated transcripts (many 2-4-actor conversations) → contacts →
    dense ids → undirected edges → PageRank, connected components, label
    propagation and triangles → one per-vertex result table (sink)."""

    name = "graph_sparse"
    #: a warm run takes 10-18 s on a shared 4-core machine; a second one
    #: would take an invocation past the average the time budget allows
    measured_runs = 1
    session_gap_s = 30 * 60
    duration_threshold_s = 15 * 60

    def stage(self) -> None:
        from sharetrace_giraph_spark import datagen

        t = datagen.generate_transcripts(
            self.spark, n_convs=self.size["convs"], turns_per_conv=20,
            n_actors=self.size["actors"], n_communities=6, n_hubs=3, seed=self.seed,
        )
        self.wh.write_table(t, "transcripts")

    def run(self, run_id: str, tr: Tracer) -> RunResult:
        from sharetrace_giraph_spark.algorithms import (
            connected_components,
            label_propagation,
            pagerank,
            triangles,
        )
        from sharetrace_giraph_spark.operators import edges as E

        t0 = time.monotonic()
        ckpt = os.path.join(self.work, "ckpt", run_id)
        spark = self.spark
        t = self.wh.read_table("transcripts")
        contacts = self.contacts(t, tr)
        verts = tr.span("edges.vertex_ids", E.vertex_ids, contacts)
        enc = E.encode_edges(contacts, verts)
        und = E.undirect(enc)
        pr = tr.span("algorithms.pagerank", pagerank, spark, und, verts, ckpt,
                     run_id=run_id, max_supersteps=PAGERANK_SUPERSTEPS, tolerance=0.0,
                     checkpoint_every=2)
        cc = tr.span("algorithms.connected_components", connected_components, spark, und,
                     verts, ckpt, run_id=run_id, checkpoint_every=2)
        lpa = tr.span("algorithms.label_propagation", label_propagation, spark, und, verts,
                      ckpt, run_id=run_id, max_supersteps=LPA_SUPERSTEPS, checkpoint_every=2)

        def tri():
            _, per_vertex = triangles(spark, enc, verts)
            return persist_count(per_vertex)

        per_vertex = tr.span("algorithms.triangles", tri)
        out = (
            verts.join(pr.state.select("vertex_id", "rank"), "vertex_id")
            .join(cc.state.select("vertex_id", "comp"), "vertex_id")
            .join(lpa.state.select("vertex_id", "label"), "vertex_id")
            .join(per_vertex, "vertex_id")
        )
        sinks = {"vertices": f"vertices_{run_id}"}
        tr.span("sources.write_table", self.wh.write_table, out, sinks["vertices"])
        run_s = time.monotonic() - t0
        return RunResult(
            run_id, run_s,
            {"pagerank": pr, "connected_components": cc, "label_propagation": lpa},
            2 * contacts.count(), sinks, [contacts, per_vertex], contacts, t, ckpt,
        )

    def oracle(self) -> dict:
        """The reference implementations in ``tests/reference_impl.py``,
        run on the staged transcripts."""
        from tests import reference_impl as ref

        rows = (
            self.wh.read_table("transcripts")
            .select("conv_id", "turn_idx", "role", F.unix_timestamp("ts").alias("ts_s"))
            .toPandas()
        )
        contacts = ref.derive_contacts_py(
            rows.itertuples(index=False, name=None),
            duration_threshold_s=self.duration_threshold_s, session_gap_s=self.session_gap_s,
        )
        roles = sorted({r for pair in contacts for r in pair})
        ids = {r: i for i, r in enumerate(roles)}
        edges = [(ids[s], ids[d]) for s, d in contacts]
        vertices = list(range(len(roles)))
        rank = ref.pagerank_py(edges, vertices, tol=0.0, max_iters=PAGERANK_SUPERSTEPS)
        comp = ref.cc_py(edges, vertices)
        label = ref.lpa_py(edges, vertices, max_iters=LPA_SUPERSTEPS)
        _, tri = ref.triangles_py(edges)
        return {"vertices": pd.DataFrame({
            "vertex_id": np.array(vertices, dtype="int64"),
            "role": roles,
            "rank": [rank[v] for v in vertices],
            "comp": np.array([comp[v] for v in vertices], dtype="int64"),
            "label": np.array([label[v] for v in vertices], dtype="int64"),
            "n_triangles": np.array([tri.get(v, 0) for v in vertices], dtype="int64"),
        })}

    def verify(self, res: RunResult, expected: dict) -> str | None:
        got = self.wh.read_table(res.sinks["vertices"]).select(
            F.col("vertex_id").cast("long"), "role", F.col("rank").cast("double"),
            F.col("comp").cast("long"), F.col("label").cast("long"),
            F.col("n_triangles").cast("long"),
        ).toPandas()
        why = frames_equal(expected["vertices"], got, ["vertex_id"], atol={"rank": 1e-6})
        return f"vertices: {why}" if why else None


WORKLOADS = {w.name: w for w in (RiskBP, GraphSparse)}
