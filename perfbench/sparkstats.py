"""Spark status-store reader and the span tracer.

Every traced layer call runs under its own job group.  Afterwards the jobs
of that group are read back through ``statusTracker()`` and the JVM status
store (``AppStatusStore``), which PySpark can reach with
``spark.ui.enabled=false``.  Nothing inside the package is instrumented:
spans open and close in the benchmark's own files, around calls into the
package's public functions.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks", "executor_run_s", "gc_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "stage_queue_s",
)


def _ms(opt) -> int | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


@dataclass
class GroupStats:
    """What the status store knows about one job group."""

    jobs: int = 0
    stages: int = 0
    job_s: float = 0.0  # union of the jobs' [submission, completion] spans
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.job_s += other.job_s
        for k in STAGE_FIELDS:
            self.totals[k] += other.totals[k]


def covered(intervals) -> float:
    """Length of the union of ``(lo, hi)`` intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def _drain(sc) -> None:
    """Wait until the listener bus has put every finished job, stage and
    SQL execution into the status stores."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _ids(scala_set) -> set[int]:
    out, it = set(), scala_set.iterator()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def group_stats(sc, group: str) -> GroupStats:
    """Jobs, stages and per-stage task metrics of one finished job group.
    Skipped stages (their shuffle output was reused) count as no work."""
    _drain(sc)
    store = sc._jsc.sc().statusStore()
    out = GroupStats()
    intervals = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out.jobs += 1
        lo, hi = _ms(job.submissionTime()), _ms(job.completionTime())
        if lo is not None and hi is not None:
            intervals.append((lo, hi))
        seq = job.stageIds()
        for i in range(seq.length()):
            sd = store.lastStageAttempt(seq.apply(i))
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            t = out.totals
            t["tasks"] += sd.numTasks()
            t["executor_run_s"] += sd.executorRunTime() / 1000.0
            t["gc_s"] += sd.jvmGcTime() / 1000.0
            t["input_bytes"] += sd.inputBytes()
            t["input_records"] += sd.inputRecords()
            t["shuffle_read_bytes"] += sd.shuffleReadBytes()
            t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, first = _ms(sd.submissionTime()), _ms(sd.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                t["stage_queue_s"] += max(0, first - sub) / 1000.0
    out.job_s = covered(intervals) / 1000.0
    return out


def check_attribution(spark, groups) -> None:
    """Raise if one SQL execution ran jobs of two job groups, or of a group
    and of no group: then a span's group would miss part of its work, such
    as a broadcast or subquery job submitted from another thread."""
    sc = spark.sparkContext
    _drain(sc)
    owner = {j: g for g in groups for j in sc.statusTracker().getJobIdsForGroup(g)}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.length()):
        ex = execs.apply(i)
        held = {owner.get(j) for j in _ids(ex.jobs().keys())}
        if len(held) > 1:
            raise RuntimeError(
                f"SQL execution {ex.executionId()} ran jobs of groups {sorted(map(str, held))}"
            )


def plan_rows(spark, group: str) -> dict[str, int]:
    """Output rows per plan-node name, summed over the final (adaptive)
    plans of the SQL executions that ran the job group's jobs.  A reused
    exchange is one node, so a subtree Spark computes once counts once."""
    sc = spark.sparkContext
    _drain(sc)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    rows: dict[str, int] = {}
    for i in range(execs.length()):
        ex = execs.apply(i)
        if not _ids(ex.jobs().keys()) & jobs:
            continue
        values, it = {}, store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        nodes = store.planGraph(ex.executionId()).allNodes()
        for j in range(nodes.length()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.length()):
                m = metrics.apply(k)
                v = values.get(int(m.accumulatorId()))
                if m.name() == "number of output rows" and v is not None:
                    name = node.name().strip()
                    rows[name] = rows.get(name, 0) + int(v.replace(",", ""))
    return rows


def spark_totals(spans, n_ops: int) -> dict:
    """The status-store totals of ``spans`` per operation."""
    acc = GroupStats()
    for sp in spans:
        acc.add(sp.stats)
    t = acc.totals
    return {
        "spark.stage_queue_s": t["stage_queue_s"] / n_ops,
        "spark.executor_run_s": t["executor_run_s"] / n_ops,
        "spark.gc_s": t["gc_s"] / n_ops,
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes": t["spill_bytes"] / n_ops,
    }


@dataclass
class Span:
    name: str
    trace_id: str  # shared by the spans of one query or one build
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    stats: GroupStats | None = None

    @property
    def group(self) -> str:
        """The Spark job group the span's own calls run under."""
        return f"perfbench-{self.span_id}"


class Tracer:
    """Spans kept in memory; :meth:`dump` writes them when the run ends.

    ``span(name)`` sets a fresh job group for the enclosed calls, so the
    status store attributes every Spark job to exactly one span; a child
    span's jobs are not counted again in its parent."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name,
            trace_id or (parent.trace_id if parent else name),
            next(self._ids),
            parent.span_id if parent else None,
            time.perf_counter(),
        )
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.stats = group_stats(self.sc, sp.group)
            self.spans.append(sp)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its children cover."""
        child_cover: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_cover.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {
            sp.span_id: (sp.end - sp.start) - covered(child_cover.get(sp.span_id, []))
            for sp in self.spans
        }

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        below = {root.span_id}
        out = [root]
        for sp in sorted(self.spans, key=lambda s: s.span_id):
            if sp.parent in below:
                below.add(sp.span_id)
                out.append(sp)
        return out

    def total(self, name: str) -> float:
        return sum(sp.end - sp.start for sp in self.by_name(name))

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for sp in self.spans:
            row = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += sp.end - sp.start
            row["self_s"] += selfs[sp.span_id]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [
            {
                "name": sp.name, "trace_id": sp.trace_id, "id": sp.span_id,
                "parent": sp.parent, "start": sp.start, "end": sp.end,
                "self_s": selfs[sp.span_id],
                "jobs": sp.stats.jobs if sp.stats else 0,
                "stages": sp.stats.stages if sp.stats else 0,
                **(sp.stats.totals if sp.stats else {}),
            }
            for sp in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
