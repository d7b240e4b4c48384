#!/usr/bin/env python3
"""Benchmark of the contact-tracing pipeline, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload risk_bp --seed 1 --seconds 5 --trace 0

One driver process, one SparkSession on ``local[<cores>]``, one client in a
closed loop: a run starts only after the previous run and its output check
have finished. Set-up -- session start, input generation, staging and the
warm-up run -- is timed as ``setup_s``. The warm-up run is the first, cold
run of the session, checked against an independent oracle whose own time
is kept out of every timing and reported as ``check.oracle_s``. A fixed
number of measured runs per workload follows, and more until ``--seconds``
have passed, each checked by comparing an order-independent fingerprint of
its sink tables with the verified run's.

``--trace 0`` prints the end-to-end metrics (medians over the measured
runs). ``--trace 1`` alternates traced and untraced measured runs and
prints the per-layer metrics and work counts (medians over the traced runs)
and the tracing overhead. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; a human-readable
summary goes to standard error. The exit code is 0 only when every run
passed its check. Everything the benchmark writes stays under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import MB, StatusStore, Tracer

#: (name, unit) of every end-to-end metric, printed with ``--trace 0``
END_TO_END = [("run_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("setup_s", "s")]

SPAN_NAMES = [
    "sources.write_table", "edges.derive_contacts", "edges.vertex_ids",
    "algorithms.pagerank", "algorithms.connected_components",
    "algorithms.label_propagation", "algorithms.triangles",
    "algorithms.risk_propagation", "algorithms.final_scores",
]
SUPERSTEP_ALGS = ["pagerank", "connected_components", "label_propagation", "risk_propagation"]
_SPAN_UNITS = {"wall_s": "s", "cpu_s": "s", "driver_s": "s", "shuffle_read_mb": "MB",
               "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count", "jobs": "count"}

#: (name, unit) of every per-layer metric, printed with ``--trace 1``; a layer
#: a workload does not run reports 0
PER_LAYER = (
    [(f"{s}.{f}", u) for s in SPAN_NAMES for f, u in _SPAN_UNITS.items()]
    + [("edges.sessions", "count"), ("edges.spans", "count"),
       ("edges.candidate_pairs", "count"), ("edges.occurrences", "count"),
       ("edges.contacts", "count"), ("edges.pair_yield", "ratio")]
    + [(f"superstep.{a}.{f}", u) for a in SUPERSTEP_ALGS
       for f, u in (("supersteps", "count"), ("step_ms_p50", "ms"),
                    ("step_ms_max", "ms"), ("messages", "count"))]
    + [("superstep.edge_steps_per_s", "1/s")]
    + [("checkpoint.bytes", "bytes"), ("checkpoint.files", "count"),
       ("risk.state_rows_first", "count"), ("risk.state_rows_last", "count"),
       ("jvm.gc_s", "s"), ("jvm.storage_mb_peak", "MB"), ("retained_storage_mb", "MB"),
       ("setup.session_s", "s"), ("setup.stage_s", "s"), ("setup.first_run_s", "s"),
       ("trace.runs", "count"), ("trace.warm_run_s_traced", "s"),
       ("trace.warm_run_s_untraced", "s"), ("trace.overhead_ratio", "ratio"),
       ("trace.untagged_jobs", "count"), ("check.oracle_s", "s"),
       ("host.loadavg_1m", "load"), ("host.steal_pct", "%")]
)

#: an invocation starts no run that could end after this many seconds
#: (judged by its longest run so far), to stay inside the 180 s allowed
DEADLINE_S = 165

#: Spark cores at most. The pipelines' inputs are small and their runs are
#: mostly driver time; more task threads than this add scheduler contention
#: with the machine's other tenants, not speed (measured: warm risk_bp runs
#: were no faster on 4 cores than on 2 of a shared 4-core machine)
MAX_CORES = 2


def read_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line, read
    the way ``bench.py`` reads them; (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _box_memory_mb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 8192


def start_session(work: str):
    """A session sized to this machine: up to ``MAX_CORES`` cores, a quarter
    of its memory up to 3 GB for the driver, and all scratch files under
    ``work``."""
    from sharetrace_giraph_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    mem_mb = max(1024, min(3072, _box_memory_mb() // 4))
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{mem_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill and reap it
            proc.kill()
            proc.wait(timeout=30)


class Bench:
    """Runs one workload's pipeline, checks each run, and keeps the tally."""

    def __init__(self, spark, workload) -> None:
        self.wl = workload
        self.store = StatusStore(spark)
        self.attempted = self.failed = 0
        self.reference = None
        self.records: list[dict] = []
        self.n = 0

    def execute(self, traced: bool, expected=None) -> dict | None:
        """One run and its check: a dict of the run's numbers, or None if
        the run raised or its output was wrong."""
        self.n += 1
        self.attempted += 1
        run_id = f"r{self.n:03d}"
        self.store.jobs_since_last()  # jobs before this run are not its own
        jiffies = read_cpu_jiffies()
        tr = Tracer(self.store, run_id, traced)
        res = out = None
        try:
            res = self.wl.run(run_id, tr)
            tr.close()
            out = self._checked(res, tr, expected, jiffies)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
        finally:
            if res is not None:
                self.wl.cleanup(res)
        if out is None:
            self.failed += 1
            return None
        if traced:
            out["retained_storage_mb"] = self.store.retained_storage_mb()
        print(f"perfbench: run {run_id} {'traced ' if traced else ''}"
              f"run_s={out['run_s']:.3f} cpu_s={out['cpu_s']:.3f} "
              f"loadavg={out['host.loadavg_1m']:.2f} steal%={out['host.steal_pct']:.2f}",
              file=sys.stderr)
        return out

    def _checked(self, res, tr, expected, jiffies) -> dict | None:
        steal1, jiff1 = read_cpu_jiffies()
        if expected is not None:
            why = self.wl.verify(res, expected)
            self.reference = self.wl.fingerprint(res) if why is None else None
        elif self.wl.fingerprint(res) != self.reference:
            why = "sink fingerprint differs from the verified run"
        else:
            why = None
        if why is not None:
            print(f"perfbench: run {res.run_id} failed its check: {why}", file=sys.stderr)
            return None
        jobs = tr.all_jobs()
        steps, steps_wall = res.edge_steps()
        steal0, jiff0 = jiffies
        out = {
            "run_s": res.run_s,
            "cpu_s": sum(j.cpu_s for j in jobs),
            "superstep.edge_steps_per_s": steps / steps_wall if steps_wall else 0.0,
            "shuffle_mb": sum(j.shuffle_write for j in jobs) / MB,
            "host.loadavg_1m": os.getloadavg()[0],
            "host.steal_pct": 100.0 * (steal1 - steal0) / (jiff1 - jiff0)
            if jiff1 > jiff0 else 0.0,
            "traced": tr.enabled,
        }
        if tr.enabled:
            out.update(tr.layer_metrics())
            out.update(self.wl.layer_counts(res))
            out["trace.untagged_jobs"] = float(sum(sp.untagged for sp in tr.spans))
            out["jvm.storage_mb_peak"] = tr.storage_peak_mb
            out["jvm.gc_s"] = self.store.executor()[1] - tr.gc0
            self.records.extend(tr.records())
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    root = os.getcwd()
    sys.path.insert(1, root)
    try:
        import __spark_entry__  # noqa: F401
        import sharetrace_giraph_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    runs: list[dict] = []
    setup: dict[str, float] = {}
    oracle_s = 0.0
    spark = start_session(work)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup["setup.session_s"] = time.monotonic() - t_start
        t_stage = time.monotonic()
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        wl.stage()
        bench = Bench(spark, wl)
        setup["setup.stage_s"] = time.monotonic() - t_stage
        t_oracle = time.monotonic()
        expected = wl.oracle()
        oracle_s = time.monotonic() - t_oracle
        # warm-up: the cold first run, checked against the oracle; its
        # pipeline time is set-up
        first = bench.execute(traced=False, expected=expected)
        if first is not None:
            setup["setup.first_run_s"] = first["run_s"]
            setup_s = sum(setup.values())
            # trace mode alternates traced and untraced runs, starting
            # traced, and needs one of each for the overhead
            want = max(wl.measured_runs, 2 if args.trace else 1)
            t_measure = time.monotonic()
            while time.monotonic() - t_measure < args.seconds or len(runs) < want:
                longest = max(r["run_s"] for r in runs + [first])
                if time.monotonic() - t_start + 1.5 * longest > DEADLINE_S:
                    break
                r = bench.execute(traced=bool(args.trace) and len(runs) % 2 == 0)
                if r is None:
                    break
                runs.append(r)
        if args.trace and bench.records:
            with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
                for rec in bench.records:
                    f.write(json.dumps(rec) + "\n")
    finally:
        t_stop = time.monotonic()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: set-up {', '.join(f'{k[6:]}={v:.2f}' for k, v in setup.items())}; "
              f"oracle_s={oracle_s:.2f}; stop_s={time.monotonic() - t_stop:.2f}; "
              f"total_s={time.monotonic() - t_start:.2f}", file=sys.stderr)

    traced = [r for r in runs if r["traced"]]
    plain = [r for r in runs if not r["traced"]]
    if args.trace:
        values = {name: median([r.get(name, 0.0) for r in traced]) for name, _ in PER_LAYER}
        values.update({k: setup.get(k, 0.0) for k, _ in PER_LAYER if k.startswith("setup.")})
        warm_traced = median([r["run_s"] for r in traced])
        warm_plain = median([r["run_s"] for r in plain])
        values["trace.runs"] = float(len(traced))
        values["trace.warm_run_s_traced"] = warm_traced
        values["trace.warm_run_s_untraced"] = warm_plain
        values["trace.overhead_ratio"] = warm_traced / warm_plain if warm_plain else 0.0
        values["check.oracle_s"] = oracle_s
        values["host.loadavg_1m"] = median([r["host.loadavg_1m"] for r in runs])
        values["host.steal_pct"] = median([r["host.steal_pct"] for r in runs])
        spec = PER_LAYER
    else:
        values = {name: median([r[name] for r in runs]) for name, _ in END_TO_END
                  if name != "setup_s"}
        values["setup_s"] = setup_s if runs else 0.0
        spec = END_TO_END

    # a tail percentile needs ten samples beyond it; a run count this small
    # supports only the median
    print(f"perfbench: {args.workload} seed={args.seed}: medians over {len(runs)} measured "
          f"run(s) after a cold warm-up run ({len(traced)} traced); "
          f"fail_ratio={bench.failed}/{bench.attempted}", file=sys.stderr)
    for name, unit in spec:
        print(f"perfbench:   {name} = {values[name]:.6g} {unit}", file=sys.stderr)
    correct = bench.failed == 0 and bool(runs)
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in spec},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
