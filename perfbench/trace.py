"""Spans around the benchmark's calls into each layer of the engine.

The engine itself is not instrumented: every span is opened by the
benchmark around one call it makes (a catalog builder, a sink action,
``render.to_tsv``, a ``sources`` probe, ``get_spark``).  A span records its
name, layer, operation id, parent span, start and end, and the Spark jobs,
stages and tasks that ran inside it.  Each span sets its own Spark job group;
jobs are attributed by job id range, so jobs that streaming threads start
under their own group still count toward the span that waited for them.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    phase: str
    op: int | None
    parent: int | None
    pass_idx: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    max_stage_tasks: int = 0
    job_ids: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._spark = spark
        self._stack: list[Span] = []

    def _next_job_id(self) -> int:
        return int(self._spark._jsc.sc().dagScheduler().nextJobId())

    def _count(self, span: Span, first_job: int, end_job: int) -> None:
        tracker = self._spark.sparkContext.statusTracker()
        span.job_ids = list(range(first_job, end_job))
        span.jobs = len(span.job_ids)
        for jid in span.job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                span.stages += 1
                span.tasks += stage.numCompletedTasks
                span.max_stage_tasks = max(
                    span.max_stage_tasks, stage.numCompletedTasks
                )

    @contextmanager
    def span(self, name: str, layer: str, phase: str,
             op: int | None = None, pass_idx: int | None = None):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, phase, op,
                 parent.id if parent else None, pass_idx)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"perfbench-span-{s.id}", name)
        first_job = self._next_job_id()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._count(s, first_job, self._next_job_id())
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-span-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: list[Span], passes: list[int]) -> dict[str, float]:
    """Per-pass totals of every (layer, phase) over the traced passes,
    reduced to the median pass: ``<layer>.<phase>_s``, ``_jobs``,
    ``_stages``, ``_tasks`` and ``_max_stage_tasks``.  Probe spans (direct
    calls made once per pass) use the same keys."""
    keys = {(s.layer, s.phase) for s in spans if s.pass_idx in passes}
    out: dict[str, float] = {}
    for layer, phase in sorted(keys):
        per_pass: dict[str, list[float]] = {
            k: [] for k in ("s", "jobs", "stages", "tasks", "max_stage_tasks")
        }
        for p in passes:
            mine = [s for s in spans
                    if s.pass_idx == p and (s.layer, s.phase) == (layer, phase)]
            per_pass["s"].append(sum(s.seconds for s in mine))
            per_pass["jobs"].append(sum(s.jobs for s in mine))
            per_pass["stages"].append(sum(s.stages for s in mine))
            per_pass["tasks"].append(sum(s.tasks for s in mine))
            per_pass["max_stage_tasks"].append(
                max((s.max_stage_tasks for s in mine), default=0)
            )
        for k, vals in per_pass.items():
            out[f"{layer}.{phase}_{k}"] = _median(vals)
    return out


def pass_totals(spans: list[Span], passes: list[int]) -> dict[str, float]:
    """Jobs and tasks of every operation span in a pass, median pass."""
    jobs, tasks = [], []
    for p in passes:
        ops = [s for s in spans if s.pass_idx == p and s.phase == "op"]
        jobs.append(sum(s.jobs for s in ops))
        tasks.append(sum(s.tasks for s in ops))
    return {"jobs": _median(jobs), "tasks": _median(tasks)}
