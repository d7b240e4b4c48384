"""Checkpointed BSP superstep driver — the engine's iteration core.

Reference analogs (citations into /root/reference):

- I1/I2 master loop + convergence halt (``compute/MasterComputer.java:24-56``):
  Giraph's master flips computation classes per superstep and halts when the
  aggregated L1 delta < 1e-5 or superstep count hits the max. Here: a plain
  driver ``for`` loop over DataFrame transforms; the step function owns the
  algorithm, the driver owns halt/checkpoint/metrics.
- A4 global delta aggregator (``aggregate/DeltaAggregator.java:16-32``):
  the +infinity init sentinel (never halt before the first real superstep)
  becomes "superstep 0 always runs"; after that, halt when sum(|delta|) <
  tol. Divergence from the sentinel documented here.
- I5 checkpoint retention (``java/giraph-site.xml:10-15`` keeps superstep
  checkpoints): every superstep writes the full state to
  ``{dir}/{run_id}/{algorithm}/state/superstep=K`` (parquet + _SUCCESS) and
  appends a lineage/metrics row. Resume = read the max committed superstep
  and continue — the BSP descendant of the reference's HatContext resume
  cursor (``pda/AbstractHatContext.java:14-29``).

The per-superstep write doubles as **lineage truncation**: iterative
DataFrame plans grow exponentially without it; re-reading the parquet we
just wrote resets the plan to a scan. This is mandatory at 10^12-turn scale
(a 20-superstep lineage over a shuffle DAG would never schedule) and is
what makes kill-and-resume possible at all.

State contract: the state DataFrame must carry a ``delta: double`` column
(per-vertex |change| this superstep — FIXTURES.md §4); everything else is
algorithm-private.

Message path: a step relays values along edges with :func:`send` (the
senders' rows joined to their out-edges, one message row per edge),
aggregates them per receiver, and folds the aggregate back onto the
state with :func:`receive` — Giraph's one message path, whose join
policy lives in those two functions.
"""

from __future__ import annotations

import os
import re
import sys
import time
import uuid
import warnings
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession

from .cache import free, hold, recall, release, remember

#: bounded wait for the piggybacked convergence metrics (the listener
#: event rides Spark's shared async listener bus, which may drop events
#: under extreme pressure — never hang the loop on it)
_OBSERVE_TIMEOUT_S = 30.0

#: reference convergence threshold (``MasterComputer.java:24``)
DEFAULT_TOLERANCE = 1e-5
#: reference superstep cap (``giraph-site.xml:43-46``, ``BPContext.java:13``)
DEFAULT_MAX_SUPERSTEPS = 5

#: matches the initial-state checkpoint too (``superstep=-1``) — without
#: the optional minus a job killed during superstep 0 would resume by
#: RE-DERIVING the initial state instead of reading the committed -1
#: snapshot, breaking deterministic resume for nondeterministic init
#: lineages (sampled seeds, current-time cutoffs)
_STEP_RE = re.compile(r"superstep=(-?\d+)$")

#: auto_num_partitions sizing: edges per partition, and the least width
_ROWS_PER_PARTITION, _MIN_PARTITIONS = 100_000, 4

#: cache owner (``plans/cache``) of the one graph's loop inputs that
#: loop_inputs holds
LOOP_INPUTS = "plans.superstep.loop_inputs"


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def auto_num_partitions(spark: SparkSession, edges: DataFrame) -> int:
    """Iteration partition count, stats-based.

    Every superstep pays per-partition fixed costs (task scheduling, one
    checkpoint file per partition, per-partition agg finalization) across
    SEVERAL stages, so over-partitioning a small graph multiplies pure
    overhead — measured 19.3 s → 11.2 s for 10 PageRank supersteps on a
    94k-edge graph going from 32 to 4 partitions at local[32]. Sizing:
    ``clamp(ceil(E / _ROWS_PER_PARTITION), _MIN_PARTITIONS,
    spark.sql.shuffle.partitions)`` — large graphs keep the configured
    width (the 40M-edge scaling table stays at 32), small graphs stop
    paying 32 tasks to move 90k rows. Costs one count() of the edge
    frame. ``loop_inputs`` skips it when the session width is at most
    ``_MIN_PARTITIONS`` (the clamp then allows only that width), on a
    held graph, and when the caller pins ``num_partitions`` (the scaling
    bench, cluster jobs with tuned shuffle widths). The choice never
    changes results — every kernel's aggregates are partition-order-free."""
    conf = shuffle_partitions(spark)
    n = edges.count()
    return max(1, min(conf, max(_MIN_PARTITIONS, -(-n // _ROWS_PER_PARTITION))))


def loop_inputs(
    spark: SparkSession,
    edges: DataFrame,
    cols: Sequence[str],
    key: str,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame | None, int]:
    """The static inputs of an iterative run, ``(e, verts, P)``, held for
    every run over the same graph: the reference's ``STATIC_GRAPH=true``
    (``BeliefPropagationRunner.java:59``). P is the iteration width,
    auto-sized from the edge count unless given.

    ``e`` is ``edges``' ``cols`` hash-partitioned on ``key`` at P, so each
    superstep's gather join against the carried state plans no edge-side
    exchange, and a per-vertex aggregate over it (PageRank's out-weight)
    plans none either. ``verts`` is ``vertices``' ``vertex_id``
    column hash-partitioned at P, or None: the init state built from it
    enters superstep 0 already co-partitioned, and a possibly expensive
    vertex derivation (a distinct over the edge table) is paid once
    here, not on superstep 0's critical path. Both are materialized
    before this returns.

    Both copies are held under :data:`LOOP_INPUTS` (``plans/cache``), one
    graph at a time. A later call on the same ``edges`` and ``vertices``
    objects, with the same ``cols``, ``key``, requested width and
    session width, returns the same copies and runs no Spark job: PageRank,
    components and label propagation over one graph share one
    exchange of its edges. Callers pass their own frames, not a
    projection of them, so that the match can see the caller's objects.
    A call on another graph frees the held copies before it builds its
    own, and ``release()`` frees them.

    Auto-sizing counts the edges only when the session width leaves the
    count a choice (``auto_num_partitions``); the input lineage is then
    cached before the count, so it is evaluated once, and freed once the
    partitioned copy has materialized."""
    conf = shuffle_partitions(spark)
    inputs = (edges, vertices, tuple(cols), key, num_partitions, conf)
    got = recall(LOOP_INPUTS, inputs)
    if got is not None:
        return got
    release(LOOP_INPUTS)
    projected = edges.select(*cols)
    if num_partitions is None and conf <= _MIN_PARTITIONS:
        num_partitions = conf  # the clamp allows only this width: no count
    sized = None
    try:
        if num_partitions is None:
            sized = projected.persist()
            num_partitions = auto_num_partitions(spark, sized)
        e = hold(LOOP_INPUTS, projected.repartition(num_partitions, key).persist())
        e.count()
    finally:
        if sized is not None:  # the auto-sizing copy has done its job
            free(sized)
    verts = None
    if vertices is not None:
        verts = vertices.select("vertex_id").repartition(num_partitions, "vertex_id")
        hold(LOOP_INPUTS, verts.persist()).count()
    return remember(LOOP_INPUTS, inputs, (e, verts, num_partitions))


def send(edges: DataFrame, senders: DataFrame, *msgs: F.Column) -> DataFrame:
    """A superstep's messages, ``(mdst, *msgs)``: each ``senders`` row
    (keyed ``vertex_id``) joined to its out-edges in the src-partitioned
    loop ``edges(src, dst, ...)``, one row per edge, each ``msgs``
    column evaluated over the edge and its sender. Aggregate the rows
    per ``mdst`` and fold them back with :func:`receive`.

    Both joins of a superstep hint their vertex side ``shuffle_hash``.
    Senders and per-receiver aggregates are O(V) rows: Catalyst's static
    size estimate (and AQE's runtime one) routinely puts them under the
    broadcast threshold, but a per-superstep broadcast of a frame that
    grows with the graph is wrong at scale and measurably harmful: at
    80M edges the repeated 10-100 MB broadcast hash relations churned
    the heap until supersteps stalled at 3-8x their clean wall (BENCH.md
    round-3 analysis; CC showed 155 s vs 26 s for the identical step).
    Both sides are already hash-clustered on the join key at the loop
    width (``loop_inputs``, ``SuperstepDriver._checkpoint_carry``), so
    the shuffled hash join reuses that layout and plans no exchange."""
    return edges.join(senders.hint("shuffle_hash"), edges.src == senders.vertex_id).select(
        edges.dst.alias("mdst"), *msgs
    )


def receive(state: DataFrame, inc: DataFrame) -> DataFrame:
    """``state`` left-joined on ``vertex_id == mdst`` to ``inc``, the
    per-receiver aggregate of :func:`send`'s messages; a vertex that
    received nothing keeps its row with NULL aggregate columns. The
    aggregate side is hinted ``shuffle_hash`` (why: :func:`send`)."""
    return state.join(inc.hint("shuffle_hash"), state.vertex_id == F.col("mdst"), "left")


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps_run: int
    final_superstep: int
    l1_delta: float
    converged: bool
    resumed_from: int | None
    wall_s: float
    metrics: list[dict] = field(default_factory=list)


def _state_dir(root: str, run_id: str, algorithm: str) -> str:
    return os.path.join(root, run_id, algorithm, "state")


def _metrics_dir(root: str, run_id: str, algorithm: str) -> str:
    return os.path.join(root, run_id, algorithm, "metrics")


def latest_committed(root: str, run_id: str, algorithm: str) -> int | None:
    """Max superstep K whose state checkpoint fully committed (_SUCCESS)."""
    sdir = _state_dir(root, run_id, algorithm)
    if not os.path.isdir(sdir):
        return None
    best = None
    for name in os.listdir(sdir):
        m = _STEP_RE.search(name)
        if m and os.path.exists(os.path.join(sdir, name, "_SUCCESS")):
            k = int(m.group(1))
            best = k if best is None else max(best, k)
    return best


class SuperstepDriver:
    """Runs ``step(state, superstep) -> new_state`` to convergence with
    per-superstep checkpoint, resume, and lineage metrics.

    Critical path per superstep: ONE full-compute Spark action (the eager
    ``localCheckpoint``, which also carries the state's partitioning into
    the next superstep) plus a cheap in-memory delta/active aggregation;
    durable parquet snapshots are written by a background thread that
    overlaps the next superstep's compute (``_write_snapshot``).
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        run_id: str,
        algorithm: str,
        num_partitions: int | None = None,
    ) -> None:
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id
        self.algorithm = algorithm
        self.num_partitions = num_partitions or shuffle_partitions(spark)
        #: this run's convergence columns (``_convergence_cols``)
        self._convergence: tuple = ()
        #: in-flight async durable snapshot write: (thread, superstep)
        self._pending_write: tuple | None = None
        self._write_exc: BaseException | None = None

    # -- checkpoint I/O ------------------------------------------------------

    @staticmethod
    def _convergence_cols(tolerance: float) -> tuple:
        """THE convergence definition — the single source for both places
        that compute it (the observe piggyback on the carry and the
        listener-bus-timeout fallback agg): L1 delta, message count, and
        the active-vertex count under the run's tolerance. ``run`` builds
        it once (each column is a few JVM round trips)."""
        return (
            F.sum(F.abs(F.col("delta"))).alias("l1"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.abs("delta") > tolerance, 1).otherwise(0)
            ).alias("active"),
        )

    def _snapshot_path(self, superstep: int) -> str:
        return os.path.join(
            _state_dir(self.checkpoint_dir, self.run_id, self.algorithm),
            f"superstep={superstep}",
        )

    def _checkpoint_carry(self, state: DataFrame, superstep: int):
        """Materialize the superstep output ONCE via eager
        ``localCheckpoint`` — truncating lineage (like the parquet
        round-trip) while PRESERVING the step's ``hash(vertex_id, P)``
        output partitioning in the rebased ``LogicalRDD`` — and run the
        convergence aggregates as a cheap in-memory agg over the
        materialized rows. Returns ``(cached, agg)``.

        Why the carry matters: continuing the loop from a fresh parquet
        scan, whose partitioning Spark cannot know, made the NEXT
        superstep re-exchange the O(V) state for its gather join, its
        agg, and its scatter join. With the carry (and the loop's pinned
        planning, see ``run``), the state side of every superstep join
        is already hash-clustered on the join key at the loop width P
        and EnsureRequirements inserts no state-side exchange: one
        message-aggregation exchange per superstep is all that remains —
        the minimal BSP shuffle shape. Measured (probe in BENCH.md round
        4): per-superstep stage count drops ~3×, and the serial
        per-superstep cost c that caps N→4N scaling efficiency drops
        with it.

        Recovery granularity: because ALL loop state is
        localCheckpoint-backed (executor-local blocks, lineage
        truncated), an executor loss on a real cluster voids those
        blocks and fails the whole ``run()`` — recovery is JOB-level
        (the caller re-invokes and resume picks up from the last
        committed snapshot, ``_write_snapshot``), not task-level.
        local-mode/single-JVM deployments, where executor loss and
        driver loss coincide, lose nothing by it.

        Round 5: the convergence aggregates are PIGGYBACKED on the
        localCheckpoint action itself via ``observe`` (the CollectMetrics
        node computes them while the blocks materialize), so the loop's
        critical path is ONE Spark job per superstep — the separate
        1-stage agg job this replaces paid P task schedulings plus a
        collect round-trip per superstep, a pure serial-floor cost."""
        obs = Observation(
            f"superstep-{self.algorithm}-{superstep}-{uuid.uuid4().hex[:8]}"
        )
        cached = state.observe(obs, *self._convergence).localCheckpoint(
            eager=True
        )
        return cached, self._carry_metrics(cached, obs)

    def _write_snapshot(self, cached: DataFrame, superstep: int) -> None:
        """Copy the carried rows of ``superstep`` to its parquet snapshot
        — the driver's one state write — as a single-stage scan on a
        background thread (Flink-style pipelined snapshotting): the
        loop's critical path pays only the localCheckpoint + a cheap
        in-memory convergence agg, while the write of the materialized
        (immutable) blocks overlaps the NEXT superstep's compute — on a
        cluster the checkpoint I/O rides spare executor capacity instead
        of serializing the loop. A snapshot is not resumable until its
        ``_SUCCESS`` lands, so a kill mid-write falls back exactly one
        cadence — the granularity ``checkpoint_every`` already promises.
        ``_join_pending_write`` is called before the cached frame backing
        a write is unpersisted, before the loop returns, and before any
        read of the snapshot — at most one write is ever in flight."""
        path = self._snapshot_path(superstep)

        def _write() -> None:
            try:
                cached.write.mode("overwrite").parquet(path)
                self._append_partition_metrics(superstep, path)
            except BaseException as exc:  # surfaced at the next join
                self._write_exc = exc

        self._join_pending_write()  # at most one write in flight
        # inheritable: the write's jobs carry the caller's job group
        t = InheritableThread(
            target=_write, name=f"ckpt-{self.algorithm}-{superstep}", daemon=True
        )
        t.start()
        self._pending_write = (t, superstep)

    def _carry_metrics(self, cached: DataFrame, obs: Observation) -> dict:
        """Convergence aggregates for a completed superstep (``cached`` is
        the carried localCheckpoint frame).
        Primary source: the Observation piggybacked on the checkpoint action
        (zero extra jobs). The metrics event is delivered over Spark's
        shared ASYNC listener bus, which can lag the action's return —
        and, under extreme event pressure, drop events — so the wait is
        bounded; on timeout, fall back to a direct 1-stage agg over the
        already-materialized rows (the pre-round-5 path, always
        correct). ``fallback`` says which source answered, so the metrics
        rows count the fallbacks."""
        deadline = time.monotonic() + _OBSERVE_TIMEOUT_S
        while time.monotonic() < deadline:
            jo = obs._jo
            if jo is not None and jo.getRowOrEmpty().isDefined():
                got = obs.get
                return {"l1": got["l1"], "n": got["n"], "active": got["active"],
                        "fallback": False}
            time.sleep(0.005)
        row = cached.agg(*self._convergence).collect()[0]
        return {"l1": row["l1"], "n": row["n"], "active": row["active"], "fallback": True}

    def _join_pending_write(self, except_step: int | None = None) -> None:
        """Wait for the in-flight durable snapshot write (if any) and
        re-raise its failure — a checkpoint that silently failed must not
        let the loop report durable progress. ``except_step``: leave that
        superstep's write running (the loop passes the just-checkpointed
        step so only writes reading an about-to-be-unpersisted OLDER
        cache are waited on)."""
        pending = self._pending_write
        if pending is not None and pending[1] != except_step:
            pending[0].join()
            self._pending_write = None
        exc = self._write_exc
        if exc is not None:
            self._write_exc = None
            raise RuntimeError("durable checkpoint write failed") from exc

    def read_state(self, superstep: int) -> DataFrame:
        return self.spark.read.parquet(self._snapshot_path(superstep))

    def _append_metrics(self, row: dict) -> None:
        """One lineage row per superstep, written driver-side with pyarrow
        (a Spark job for a 1-row append would cost more scheduling latency
        than the superstep's own work at small scales)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        mdir = _metrics_dir(self.checkpoint_dir, self.run_id, self.algorithm)
        os.makedirs(mdir, exist_ok=True)
        table = pa.table(
            {
                "run_id": pa.array([self.run_id], pa.string()),
                "algorithm": pa.array([self.algorithm], pa.string()),
                "superstep": pa.array([int(row["superstep"])], pa.int32()),
                "active_vertices": pa.array([int(row["active_vertices"])], pa.int64()),
                "messages": pa.array([int(row["messages"])], pa.int64()),
                "l1_delta": pa.array([float(row["l1_delta"])], pa.float64()),
                "wall_ms": pa.array([int(row["wall_ms"])], pa.int64()),
                "num_partitions": pa.array([int(row["num_partitions"])], pa.int32()),
                # the convergence agg came from the fallback, not the
                # observed carry (``_carry_metrics``)
                "agg_fallback": pa.array([bool(row["agg_fallback"])], pa.bool_()),
                # resume can legitimately re-run a superstep whose metrics
                # row landed before its (async) snapshot committed —
                # metrics() keeps the latest row per superstep by this
                "written_at": pa.array([time.time_ns()], pa.int64()),
            }
        )
        pq.write_table(
            table,
            os.path.join(mdir, f"superstep-{int(row['superstep'])}-{uuid.uuid4().hex[:8]}.parquet"),
        )

    def _append_partition_metrics(self, superstep: int, state_path: str) -> None:
        """Per-partition lineage (north-rule: 'checkpoints per-partition
        frontier state and lineage/metrics'): one row per state file of
        this superstep, harvested from the parquet FOOTERS the checkpoint
        write already produced — driver-side metadata reads, no Spark job
        and no second pass over the data."""
        import pyarrow.parquet as pq

        files = sorted(
            f for f in os.listdir(state_path)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        if not files:
            return
        import pyarrow as pa

        rows, nbytes = [], []
        for f in files:
            meta = pq.ParquetFile(os.path.join(state_path, f)).metadata
            rows.append(meta.num_rows)
            nbytes.append(os.path.getsize(os.path.join(state_path, f)))
        n = len(files)
        table = pa.table(
            {
                "run_id": pa.array([self.run_id] * n, pa.string()),
                "algorithm": pa.array([self.algorithm] * n, pa.string()),
                "superstep": pa.array([superstep] * n, pa.int32()),
                "partition_file": pa.array(files, pa.string()),
                "rows": pa.array(rows, pa.int64()),
                "bytes": pa.array(nbytes, pa.int64()),
            }
        )
        pdir = os.path.join(
            self.checkpoint_dir, self.run_id, self.algorithm, "partition_metrics"
        )
        os.makedirs(pdir, exist_ok=True)
        pq.write_table(
            table, os.path.join(pdir, f"superstep-{superstep}-{uuid.uuid4().hex[:8]}.parquet")
        )

    def metrics(self) -> DataFrame:
        """Per-superstep lineage rows, deduplicated.

        The metrics row for superstep k is appended when k's COMPUTE
        finishes — i.e. before k's durable snapshot commits when the
        write is async. A kill in that window followed by a resume
        re-runs k and appends a second row for the same (run_id,
        algorithm, superstep); this read keeps the LATEST row per
        superstep (max ``written_at``), so consumers always see one row
        per superstep describing the attempt that actually carried the
        run forward.

        Directories written before ``written_at`` existed (or resumed
        runs mixing old and new files) still read correctly: the merged
        schema surfaces the column for all files, old rows get 0 — so
        they lose any tie against a re-run row (the desired outcome) and
        are never dropped by the null-vs-null semi-join an unguarded
        read would produce."""
        raw = self.spark.read.option("mergeSchema", "true").parquet(
            _metrics_dir(self.checkpoint_dir, self.run_id, self.algorithm)
        )
        if "written_at" not in raw.columns:  # pure pre-upgrade directory
            return raw
        raw = raw.withColumn(
            "written_at", F.coalesce("written_at", F.lit(0).cast("long"))
        )
        keys = ["run_id", "algorithm", "superstep"]
        latest = raw.groupBy(*keys).agg(F.max("written_at").alias("written_at"))
        return raw.join(latest, keys + ["written_at"], "left_semi")

    def partition_metrics(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, self.run_id, self.algorithm, "partition_metrics")
        )

    # -- the loop --------------------------------------------------------------

    def run(
        self,
        init_state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        max_supersteps: int = DEFAULT_MAX_SUPERSTEPS,
        tolerance: float = DEFAULT_TOLERANCE,
        resume: bool = True,
        checkpoint_every: int = 1,
    ) -> SuperstepResult:
        """``checkpoint_every`` is Giraph's checkpointFrequency analog:
        durable (resumable) checkpoints land every k-th superstep; in
        between, lineage is truncated with an in-memory localCheckpoint
        (cheaper, not kill-proof). Resume granularity becomes k
        supersteps; the superstep the loop ends on (converged or capped)
        is always written durably, so ``result.state`` is that snapshot.

        Planning is pinned for the duration of the loop: AQE is disabled
        and ``spark.sql.shuffle.partitions`` is pinned to the iteration
        width P. Rationale: the loop's static inputs (edges, vertex
        universe) are cached hash-partitioned at P and every
        superstep's carried state comes out hash-partitioned at P
        (``_checkpoint_carry``), so with static planning EnsureRequirements
        proves co-partitioning and each superstep needs exactly ONE
        exchange (the message aggregation). AQE would re-coalesce those
        shuffles to runtime-chosen widths, breaking the co-partitioning
        proof for every subsequent superstep join — it optimizes the one
        query while defeating the cross-superstep layout reuse, which is
        the dominant cost at 10^12-turn scale. Skew inside the loop is
        absorbed by each step's map-side partial aggregate below its
        message exchange (``operators/skew``), not by AQE. The session
        confs are restored on exit."""
        t0 = time.monotonic()
        self._convergence = self._convergence_cols(tolerance)
        resumed_from = latest_committed(self.checkpoint_dir, self.run_id, self.algorithm) if resume else None

        conf = self.spark.conf
        saved = {
            k: conf.get(k)
            for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        }
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(self.num_partitions))
        # the carried frame the loop continues from, freed on every exit
        cur_cached: DataFrame | None = None
        try:
            if resumed_from is not None:
                state = self.read_state(resumed_from)
                start_step = resumed_from + 1
            else:
                # superstep -1 checkpoint = the initial state, so a job
                # killed in superstep 0 still resumes deterministically
                if resume:
                    state, _ = self._checkpoint_carry(init_state, -1)
                    self._write_snapshot(state, -1)
                    cur_cached = state
                else:
                    state = init_state
                start_step = 0

            l1 = float("inf")  # the DeltaAggregator +inf sentinel, reborn
            steps_run = 0
            k = start_step - 1
            all_metrics: list[dict] = []
            converged = False

            for k in range(start_step, max_supersteps):
                ts = time.monotonic()
                # one full-compute action per superstep: the eager
                # localCheckpoint with the convergence agg observed on the
                # same job; durable steps launch a background scan-and-
                # write of the already-materialized rows that overlaps
                # the next superstep
                new_cached, agg = self._checkpoint_carry(step(state, k), k)
                l1 = float(agg["l1"] or 0.0)
                converged = l1 < tolerance
                # durability is decided after the observed agg, so the
                # superstep the loop ends on (converged or capped) is
                # always one of the loop's own snapshot writes
                if converged or (k + 1) % checkpoint_every == 0 or k == max_supersteps - 1:
                    self._write_snapshot(new_cached, k)
                if cur_cached is not None:
                    # an in-flight write of an OLDER superstep reads
                    # the blocks we are about to free; step k's own
                    # write (the one just launched) keeps overlapping
                    self._join_pending_write(except_step=k)
                    free(cur_cached)
                state = cur_cached = new_cached
                wall_ms = int((time.monotonic() - ts) * 1000)
                row = {
                    "superstep": k,
                    "active_vertices": int(agg["active"] or 0),
                    "messages": int(agg["n"] or 0),
                    "l1_delta": l1,
                    "wall_ms": wall_ms,
                    "num_partitions": self.num_partitions,
                    "agg_fallback": agg["fallback"],
                }
                self._append_metrics(row)
                all_metrics.append(row)
                steps_run += 1
                if converged:
                    break

            if cur_cached is not None:
                # all snapshots must be committed before the loop reports
                # durable progress (and before the final read below)
                self._join_pending_write()
                # hand back a durable parquet-backed frame, never the loop
                # cache: consumers may hold result.state indefinitely.
                # Read back with the known schema: skips the driver-side
                # footer schema-inference pass — a fixed per-run cost that
                # dilutes scaling efficiency (it is identical wall at
                # every core count).
                state = self.spark.read.schema(cur_cached.schema).parquet(
                    self._snapshot_path(k)
                )
        finally:
            # never leave a write racing the conf restore (or a later
            # unpersist by the caller) — but if another exception is
            # already propagating out of the loop, a JOIN failure here
            # must not REPLACE it (the in-flight primary failure is the
            # one worth reading; the secondary write failure is logged)
            propagating = sys.exc_info()[1] is not None
            try:
                self._join_pending_write()
            except Exception as join_exc:
                if not propagating:
                    raise
                warnings.warn(
                    "async checkpoint write also failed during teardown "
                    f"(suppressed in favor of the primary error): {join_exc!r}",
                    RuntimeWarning,
                    stacklevel=2,
                )
            finally:
                if cur_cached is not None:
                    free(cur_cached)
                for key, val in saved.items():
                    conf.set(key, val)

        return SuperstepResult(
            state=state,
            supersteps_run=steps_run,
            final_superstep=k,
            l1_delta=l1,
            converged=converged,
            resumed_from=resumed_from,
            wall_s=time.monotonic() - t0,
            metrics=all_metrics,
        )
