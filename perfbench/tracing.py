"""Spans, job groups and Spark status-store counters for the benchmark.

Every call into an engine layer goes through :meth:`Tracer.span`. With
tracing on, a span records its name, start, end, parent and run id, sets
the Spark job group ``bench:<workload>:<layer>`` for the jobs it submits,
and notes the range of job ids the scheduler handed out while it was
open. The status store is read only after a timed pass has ended
(:meth:`Tracer.layer_metrics`), so the bookkeeping a traced pass adds to
its own wall time is a handful of py4j calls per span. Reading the
status store submits no Spark job.

With tracing off (:class:`NullTracer`) a span is a bare context manager:
no job group, no job-id reads, nothing recorded.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Layers whose calls run Spark jobs and so get the full counter set.
SPARK_LAYERS = (
    "edges",
    "pagerank",
    "components",
    "lpa",
    "triangles",
    "checkpoint",
)
SPARK_COUNTERS = (
    "s",
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    job_lo: int = 0
    job_hi: int = 0
    children_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children_s


def total_jobs(spark) -> int:
    """Jobs the scheduler has handed out so far (the next job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


class NullTracer:
    """Tracing off: spans only delimit calls."""

    enabled = False
    spans: tuple = ()
    own_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        yield None


@dataclass
class _StageSums:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    max_task_ms: float = 0.0
    median_task_ms: float = 0.0


class Tracer:
    """Tracing on: spans with job groups, read back from the status store."""

    enabled = True

    def __init__(self, spark, workload: str, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.own_s = 0.0  # driver time spent on tracing bookkeeping
        self._stage_cache: dict[int, _StageSums] = {}

    def _group(self, layer: str) -> str:
        return f"bench:{self.workload}:{layer}"

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name or layer,
            layer=layer,
            start=time.time(),
            parent=parent,
            run_id=self.run_id,
            job_lo=total_jobs(self.spark),
        )
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(self._group(layer), sp.name)
        self.own_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            sp.job_hi = total_jobs(self.spark)
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.seconds
                self.sc.setJobGroup(
                    self._group(self.spans[parent].layer), self.spans[parent].name
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.own_s += time.perf_counter() - t1

    # -- status-store read-back (after the timed pass) ---------------------
    def _stage(self, sid: int) -> _StageSums:
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        store = self.sc._jsc.sc().statusStore()
        sd = store.lastStageAttempt(sid)
        out = _StageSums()
        if str(sd.status()) != "SKIPPED":
            out.stages = 1
            out.tasks = sd.numTasks()
            out.failed_tasks = sd.numFailedTasks()
            out.shuffle_read_bytes = sd.shuffleReadBytes()
            out.shuffle_write_bytes = sd.shuffleWriteBytes()
            out.spill_bytes = sd.diskBytesSpilled()
            out.input_bytes = sd.inputBytes()
            out.input_records = sd.inputRecords()
            out.output_bytes = sd.outputBytes()
            out.output_records = sd.outputRecords()
            if out.tasks >= 2:
                gw = self.sc._gateway
                q = gw.new_array(gw.jvm.double, 2)
                q[0], q[1] = 0.5, 1.0
                summary = store.taskSummary(sid, sd.attemptId(), q)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    out.median_task_ms = float(rt.apply(0))
                    out.max_task_ms = float(rt.apply(1))
        self._stage_cache[sid] = out
        return out

    def _jobs_of(self, spans: list[Span]) -> list[int]:
        """Job ids submitted under the spans' own job group while they ran."""
        by_group: dict[str, set[int]] = {}
        out: set[int] = set()
        for sp in spans:
            g = self._group(sp.layer)
            if g not in by_group:
                by_group[g] = set(self.sc.statusTracker().getJobIdsForGroup(g))
            out.update(j for j in by_group[g] if sp.job_lo <= j < sp.job_hi)
        return sorted(out)

    def stage_sums(self, spans: list[Span]) -> tuple[int, _StageSums]:
        jobs = self._jobs_of(spans)
        # a job that reuses an earlier job's shuffle lists that stage too
        stage_ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(int(sid) for sid in info.stageIds)
        total = _StageSums()
        for sid in stage_ids:
            for k, v in asdict(self._stage(sid)).items():
                setattr(total, k, getattr(total, k) + v)
        return len(jobs), total

    def layer_metrics(self, layer: str, spans: list[Span]) -> dict[str, float]:
        """The full Spark counter set for one layer over the given spans."""
        mine = [s for s in spans if s.layer == layer]
        n_jobs, st = self.stage_sums(mine)
        return {
            f"{layer}.s": sum(s.self_seconds for s in mine),
            f"{layer}.jobs": n_jobs,
            f"{layer}.stages": st.stages,
            f"{layer}.tasks": st.tasks,
            f"{layer}.failed_tasks": st.failed_tasks,
            f"{layer}.shuffle_read_bytes": st.shuffle_read_bytes,
            f"{layer}.shuffle_write_bytes": st.shuffle_write_bytes,
            f"{layer}.spill_bytes": st.spill_bytes,
            # slowest task over typical task, weighted by stage: 1.0 means
            # no straggler; 0.0 means the layer ran no multi-task stage
            f"{layer}.task_skew": (
                st.max_task_ms / st.median_task_ms if st.median_task_ms else 0.0
            ),
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [asdict(s) | {"self_s": s.self_seconds} for s in self.spans], f
            )


@dataclass
class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers.

    ``VmHWM`` is each process's own high-water mark, so sampling after each
    set-up repetition and pass misses no peak of a process that is still
    alive; a worker that exits keeps the last peak seen for it.
    """

    jvm_pid: int
    peaks_kb: dict = field(default_factory=dict)

    def _children(self, pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
        return out

    def pids(self) -> list[int]:
        seen, todo = [], [self.jvm_pid]
        while todo:
            p = todo.pop()
            seen.append(p)
            todo.extend(self._children(p))
        return seen

    def sample(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peaks_kb[pid] = max(self.peaks_kb.get(pid, 0), kb)
                            break
            except OSError:
                pass

    def peak_mb(self) -> float:
        return sum(self.peaks_kb.values()) / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
