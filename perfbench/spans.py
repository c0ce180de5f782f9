"""Spans, self-time arithmetic and Spark's own counters.

A span is one call into a layer, timed from the benchmark's side of the
boundary. Spark jobs are spans too: their intervals come from the app
status store, attributed to the call that fired them through the job
group the benchmark set before the call. A span's self time is its
duration minus the part of its interval its child spans cover.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# executor counters summed over the stages that ran (skipped stages
# reuse an earlier shuffle and report nothing)
STAGE_COUNTERS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


@dataclass(frozen=True)
class Job:
    start: float
    end: float
    stage_ids: tuple[int, ...]


@dataclass
class Span:
    name: str
    start: float
    end: float
    group: str | None = None  # job group of the Spark jobs this call fired
    children: list[Span] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, reach), min(hi, end)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def self_time(span: Span) -> float:
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in span.children]
    )


@dataclass
class Stage:
    stage_id: int
    counters: dict[str, float]
    tasks: int


class SparkCounters:
    """Reads job and stage records of one SparkContext after the fact
    (the status store keeps them with the UI disabled)."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[Job]:
        """Finished jobs of a job group."""
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            ids = job.stageIds()
            out.append(
                Job(
                    sub.get().getTime() / 1e3,
                    done.get().getTime() / 1e3,
                    tuple(ids.apply(i) for i in range(ids.size())),
                )
            )
        return out

    def stages(self, stage_ids: set[int]) -> list[Stage]:
        """Every attempt of the given stages that ran to completion."""
        jvm = self._sc._jvm
        listed = self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(listed.size()):
            s = listed.apply(i)
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            counters = {
                k: getattr(s, attr)() * scale for k, (attr, scale) in STAGE_COUNTERS.items()
            }
            out.append(Stage(s.stageId(), counters, s.numCompleteTasks()))
        return out


def python_bytes(df) -> tuple[int, int]:
    """(bytes sent to, bytes received from) Python workers, summed over
    the Python-evaluating nodes of ``df``'s executed plan."""
    sent = received = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "InMemoryTableScanExec":
            # a persisted frame: the plan that filled the cache
            todo.append(node.relation().cachedPlan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            sent += metrics.apply("pythonDataSent").value()
            received += metrics.apply("pythonDataReceived").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return sent, received
