"""Spans and Spark stage metrics for the benchmark's traced run.

Spans are recorded from outside the package: ``install`` replaces the
attributes of ``pyjelly_spark.pipeline`` that ``run_pipeline`` resolves at
call time, so nothing under ``pyjelly_spark/`` changes. Spans stay in
memory and are written out once, when the run ends.

Each span that can start Spark jobs runs them under a job group of its
own. A group name is never reused: a reused name accumulates the job ids
of every earlier span that carried it, which double-counts their tasks.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

# Local properties that SparkContext.setJobGroup writes; all three are put
# back when a span ends, so the caller's own group survives the span.
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

# pipeline attributes wrapped in the traced run, with their span names
PIPELINE_SPANS = {
    "run_pipeline": "pipeline.run_pipeline",
    "build_triples": "pipeline.build_triples",
    "plan_partitions": "pipeline.plan_partitions",
    "write_jelly": "jelly_io.write_jelly",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: Optional[int]
    run_id: str
    start: float
    end: float = 0.0
    group: Optional[str] = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; spans that start Spark jobs get a job group of
    their own on ``sc`` (a SparkContext)."""

    def __init__(self, run_id: str, sc) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        span_id = next(self._ids)
        parent = self._stack[-1].span_id if self._stack else None
        record = Span(name, span_id, parent, self.run_id, time.perf_counter())
        saved = None
        if spark_jobs:
            saved = [self.sc.getLocalProperty(key) for key in _GROUP_PROPS]
            record.group = f"perfbench-{self.run_id}-{span_id}"
            self.sc.setJobGroup(record.group, name)
        self._stack.append(record)
        try:
            yield record
        finally:
            record.end = time.perf_counter()
            self._stack.pop()
            if saved is not None:
                for key, value in zip(_GROUP_PROPS, saved):
                    self.sc.setLocalProperty(key, value)
            self.spans.append(record)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = 0.0
        cursor = span.start
        for child in sorted(self.children(span), key=lambda s: s.start):
            lo = max(child.start, cursor)
            hi = min(child.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as handle:
            json.dump([asdict(s) for s in self.spans], handle, indent=1)


def install(tracer: Tracer, pipeline_module) -> callable:
    """Wrap the pipeline entry points in spans; returns the undo function."""
    originals = {name: getattr(pipeline_module, name) for name in PIPELINE_SPANS}

    def wrapped(fn, span_name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    for name, span_name in PIPELINE_SPANS.items():
        setattr(pipeline_module, name, wrapped(originals[name], span_name))

    def restore() -> None:
        for name, fn in originals.items():
            setattr(pipeline_module, name, fn)

    return restore


def stage_metrics(sc, group: Optional[str]) -> dict:
    """Summed metrics of the stages run by the jobs of one job group.

    Read through ``statusStore().lastStageAttempt``, which is populated
    with the UI disabled. Skipped stages carry zeros and no tasks.
    ``task_max_s`` / ``task_skew`` come from the stage whose slowest task
    is the slowest: that task sets the stage's wall.
    """
    out = {
        "task_s": 0.0,
        "jvm_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "tasks": 0,
        "task_max_s": 0.0,
        "task_skew": 0.0,
    }
    if group is None:
        return out
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for stage_id in sorted(stage_ids):
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() != "COMPLETE":
            continue
        out["task_s"] += stage.executorRunTime() / 1e3
        out["jvm_cpu_s"] += stage.executorCpuTime() / 1e9
        out["gc_s"] += stage.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["spill_bytes"] += stage.diskBytesSpilled()
        out["tasks"] += stage.numCompleteTasks()
        durations = []
        tasks = store.taskList(stage_id, stage.attemptId(), 100_000).iterator()
        while tasks.hasNext():
            duration = tasks.next().duration()
            if duration.isDefined():
                durations.append(duration.get() / 1e3)
        if durations and max(durations) > out["task_max_s"]:
            out["task_max_s"] = max(durations)
            out["task_skew"] = max(durations) / statistics.median(durations)
    return out
