"""Spans and Spark status-store harvesting for the benchmark.

Each span wraps one call into a public function of the package, tags the
Spark jobs it launches with ``sc.setJobGroup`` and, when it closes, reads
those jobs' stage metrics from ``sc._jsc.sc().statusStore()``. Spans are
kept in memory and written out when the benchmark ends.

Jobs launched from threads that do not inherit the job group (the
superstep driver's background checkpoint writer) carry no group; a job
like that is attributed to the span whose interval contains its
submission time, and counted as untagged.
"""

from __future__ import annotations

import gc
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024

#: ids past a missing job id that are probed before the lookup of new jobs
#: stops (a job id the status store never records would stall it otherwise)
_LOOKAHEAD = 4

#: per-span metric fields, in report order
SPAN_FIELDS = (
    "wall_s", "cpu_s", "driver_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "tasks", "jobs",
)


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children (or jobs) cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    tasks: int = 0


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    end: float = 0.0
    parent: str | None = None
    jobs: list[Job] = field(default_factory=list)
    untagged: int = 0

    def metrics(self) -> dict[str, float]:
        wall = self.end - self.start
        return {
            "wall_s": wall,
            "cpu_s": sum(j.cpu_s for j in self.jobs),
            "driver_s": self_time((self.start, self.end), [(j.start, j.end) for j in self.jobs]),
            "shuffle_read_mb": sum(j.shuffle_read for j in self.jobs) / MB,
            "shuffle_write_mb": sum(j.shuffle_write for j in self.jobs) / MB,
            "spill_mb": sum(j.spill for j in self.jobs) / MB,
            "tasks": float(sum(j.tasks for j in self.jobs)),
            "jobs": float(len(self.jobs)),
        }

    def record(self) -> dict:
        return {"name": self.name, "run_id": self.run_id, "start": self.start,
                "end": self.end, "parent": self.parent, "jobs": len(self.jobs),
                "untagged_jobs": self.untagged}


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Reads finished jobs and their stages from the JVM status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm  # noqa: SLF001
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        self._seen = -1

    def jobs_since_last(self) -> list[Job]:
        """Every job not returned by an earlier call, with stage metrics.

        Jobs are looked up by id, from the last one returned on: listing
        the whole store would cost a JVM round trip per retained job. A job
        the store does not hold yet ends the lookup, unless a later one is
        there already (an id that will never appear)."""
        out = []
        jid = self._seen + 1
        while True:
            jd = self._job(jid)
            if jd is None:
                later = next((k for k in range(jid + 1, jid + 1 + _LOOKAHEAD)
                              if self._job(k) is not None), None)
                if later is None:
                    break
                jid = later
                continue
            sub, comp = _opt(jd.submissionTime()), _opt(jd.completionTime())
            job = Job(jid, _opt(jd.jobGroup()),
                      sub.getTime() / 1000.0 if sub is not None else 0.0,
                      comp.getTime() / 1000.0 if comp is not None else time.time())
            stages = jd.stageIds()
            for i in range(stages.size()):
                try:
                    sd = self.store.lastStageAttempt(int(stages.apply(i)))
                except Py4JJavaError:  # stage evicted from the store or never run
                    continue
                job.cpu_s += sd.executorCpuTime() / 1e9
                job.shuffle_read += sd.shuffleReadBytes()
                job.shuffle_write += sd.shuffleWriteBytes()
                job.spill += sd.diskBytesSpilled()
                job.tasks += sd.numCompleteTasks()
            out.append(job)
            self._seen = jid
            jid += 1
        return out

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Py4JJavaError:  # not in the store (yet)
            return None

    def executor(self) -> tuple[float, float]:
        """(storage memory used in MB, cumulative GC seconds) over executors."""
        used = gc_ms = 0
        it = self.store.executorList(True).iterator()
        while it.hasNext():
            ex = it.next()
            used += ex.memoryUsed()
            gc_ms += ex.totalGCTime()
        return used / MB, gc_ms / 1000.0

    def retained_storage_mb(self) -> float:
        """Storage memory still held once Python and the JVM collected."""
        gc.collect()
        self.jvm.java.lang.System.gc()
        time.sleep(0.5)  # let the ContextCleaner drain its reference queue
        return self.executor()[0]


class Tracer:
    """Spans for one pipeline run. With ``enabled=False`` a span is a plain
    call, so the untraced run executes exactly the same program calls."""

    def __init__(self, store: StatusStore, run_id: str, enabled: bool) -> None:
        self.store = store
        self.run_id = run_id
        self.enabled = enabled
        self.root = Span("run", run_id, time.time())
        self.spans: list[Span] = []
        self.storage_peak_mb = 0.0
        self._group = 0
        self.gc0 = store.executor()[1] if enabled else 0.0
        if enabled:
            store.sc.setJobGroup(f"{run_id}/run", "run")

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sc = self.store.sc
        self._group += 1
        group = f"{self.run_id}/{self._group}:{name}"
        sc.setJobGroup(group, name)
        sp = Span(name, self.run_id, time.time(), parent=self.root.name)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.time()
            sc.setJobGroup(f"{self.run_id}/run", "run")
            self._harvest(sp, group)
            self.spans.append(sp)

    def _harvest(self, sp: Span, group: str) -> None:
        for job in self.store.jobs_since_last():
            if job.group == group:
                sp.jobs.append(job)
            elif job.group is None and sp.start <= job.start <= sp.end:
                sp.jobs.append(job)
                sp.untagged += 1
            else:
                self.root.jobs.append(job)
        self.storage_peak_mb = max(self.storage_peak_mb, self.store.executor()[0])

    def close(self) -> None:
        """End the run; jobs no span claimed (all of them when untraced)
        belong to the root."""
        self.root.end = time.time()
        self.root.jobs.extend(self.store.jobs_since_last())
        if self.enabled:
            self.store.sc.setLocalProperty("spark.jobGroup.id", None)

    def all_jobs(self) -> list[Job]:
        return self.root.jobs + [j for sp in self.spans for j in sp.jobs]

    def layer_metrics(self) -> dict[str, float]:
        """``<span>.<field>`` summed over the spans of each name."""
        out: dict[str, float] = {}
        for sp in self.spans:
            for k, v in sp.metrics().items():
                key = f"{sp.name}.{k}"
                out[key] = out.get(key, 0.0) + v
        return out

    def records(self) -> list[dict]:
        return [self.root.record()] + [sp.record() for sp in self.spans]
