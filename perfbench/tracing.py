"""Spans and Spark counters for the traced run.

Spans are recorded in the benchmark's own code, around each call it makes
into a layer of the engine; nothing inside the engine is instrumented.  A
span has a name, a start, an end, the span that caused it and the request it
belongs to.  Spans stay in memory until the run ends and are then written
as JSON lines.

The Spark readers take their numbers from the driver's own telemetry: the
status tracker and the JVM ``AppStatusStore`` (readable with the UI off),
the ``QueryPlanningTracker`` of an executed plan, and the storage inventory.
Jobs are attributed to a request by job group.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

SPAN_FIELDS = ("id", "name", "start", "end", "parent", "request")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and its
    ``span`` is a no-op, so the untraced path pays only a context enter."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        span = Span(sid, name, time.perf_counter(), float("nan"), parent, request)
        self.spans.append(span)
        self._open.append(sid)
        try:
            yield span
        finally:
            self._open.pop()
            span.end = time.perf_counter()

    def durations(self, name: str, request: int) -> float:
        """Summed duration of the spans called ``name`` in one request."""
        return sum(
            (s.end - s.start
             for s in self.spans
             if s.name == name and s.request == request),
            0.0,
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class Py4jCounter:
    """Counts driver → JVM round trips by wrapping the gateway client's
    ``send_command``.  Installed for the traced run only."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


def job_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages and tasks run by the given job groups, and their
    executor time, CPU, GC and shuffle bytes summed from the status store.
    Skipped stages (reused shuffle output) count as neither stages nor
    tasks."""
    sc = spark.sparkContext
    # wait until the listener bus has delivered every event, so the status
    # store has seen the jobs of the request that just ended
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb",
        ),
        0.0,
    )
    stage_ids: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
    for stage_id in stage_ids:
        attempts = store.stageData(stage_id, False, None, False, None)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
    return out


def plan_ms(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) recorded by
    the QueryPlanningTracker of ``df``'s executed plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("parsing", "analysis", "optimization", "planning"):
        summary = phases.get(name)
        if summary.isDefined():
            total += summary.get().durationMs()
    return float(total)


def storage(spark) -> tuple[int, float]:
    """(RDDs with cached blocks, MB they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return len(infos), mb


@contextlib.contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs under ``group`` and restore no group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
