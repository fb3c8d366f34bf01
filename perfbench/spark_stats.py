"""Spark's own counters, read from the driver's status store.

``StageLedger`` attributes jobs and stages to one operation by the range of
ids the operation launched: job and stage ids only grow, and the store evicts
the oldest entries first, so reading right after each operation sees all of
its jobs. Stages an operation re-used from an earlier one (SKIPPED, or ids
below the operation's first stage) are not counted again.

``Spans`` is the traced run's span recorder: it wraps functions the program
calls and attributes each Spark job to the most recently entered span, by
the job's submission time.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = float(1 << 20)


@dataclass
class StageStats:
    id: int
    tasks: int
    failed_tasks: int
    cpu_s: float
    run_s: float
    shuffle_write_mb: float
    input_records: int
    output_records: int
    output_mb: float


@dataclass
class JobStats:
    id: int
    submitted_ms: int
    stages: list[StageStats] = field(default_factory=list)


def totals(stages) -> dict:
    stages = list(stages)
    return {
        "cpu_s": sum(s.cpu_s for s in stages),
        "tasks": sum(s.tasks for s in stages),
        "failed_tasks": sum(s.failed_tasks for s in stages),
        "shuffle_mb": sum(s.shuffle_write_mb for s in stages),
        "input_records": sum(s.input_records for s in stages),
        "output_records": sum(s.output_records for s in stages),
        "output_mb": sum(s.output_mb for s in stages),
    }


class StageLedger:
    """Jobs and stages launched since the previous ``take()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self._next_stage = 0
        self.take()  # everything before the first operation is set-up

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def _stage(self, stage_id: int) -> StageStats | None:
        s = self._store.lastStageAttempt(stage_id)
        if s.status().toString() == "SKIPPED":
            return None
        return StageStats(
            id=stage_id,
            tasks=s.numCompleteTasks() + s.numFailedTasks(),
            failed_tasks=s.numFailedTasks(),
            cpu_s=s.executorCpuTime() / 1e9,
            run_s=s.executorRunTime() / 1e3,
            shuffle_write_mb=s.shuffleWriteBytes() / MB,
            input_records=s.inputRecords(),
            output_records=s.outputRecords(),
            output_mb=s.outputBytes() / MB,
        )

    def take(self) -> list[JobStats]:
        self._sc.listenerBus().waitUntilEmpty()
        floor = self._next_stage
        jobs = []
        while (j := self._job(self._next_job)) is not None:
            self._next_job += 1
            job = JobStats(id=j.jobId(), submitted_ms=j.submissionTime().get().getTime())
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                self._next_stage = max(self._next_stage, sid + 1)
                if sid >= floor and (st := self._stage(sid)) is not None:
                    job.stages.append(st)
            jobs.append(job)
        return jobs


def storage_mb(spark) -> float:
    """Memory and disk held by cached RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) / MB for i in infos)


class Spans:
    """In-memory spans for one traced operation.

    ``wrap(name, fn)`` returns ``fn`` recording a span each call; the
    operation's timeline is cut at every span entry, and the first span
    (``first``) covers everything before the first wrapped call.
    """

    def __init__(self, first: str):
        self.first = first
        self.entries: list[dict] = []

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self.entries = [{"name": self.first, "epoch_ms": time.time() * 1e3,
                         "start": 0.0, "build_s": 0.0}]

    def wrap(self, name: str, fn, sample=None):
        """``sample()``, if given, is recorded on the span at entry."""
        def traced(*args, **kwargs):
            entry = {"name": name, "epoch_ms": time.time() * 1e3,
                     "start": time.perf_counter() - self.t0}
            self.entries.append(entry)
            if sample is not None:
                entry["sample"] = sample()
            try:
                return fn(*args, **kwargs)
            finally:
                entry["build_s"] = time.perf_counter() - self.t0 - entry["start"]
        return traced

    def close(self, jobs: list[JobStats]) -> list[dict]:
        """Cut the timeline, attribute each job, return the span records."""
        end = time.perf_counter() - self.t0
        for a, b in zip(self.entries, self.entries[1:] + [{"start": end}]):
            a["s"] = b["start"] - a["start"]
            a["jobs"] = []
        for job in jobs:
            owner = self.entries[0]
            for e in self.entries:
                if job.submitted_ms >= int(e["epoch_ms"]):
                    owner = e
            owner["jobs"].append(job)
        return self.entries


def span_totals(entries: list[dict], name: str) -> dict:
    """Sum of every span called ``name`` in one operation."""
    mine = [e for e in entries if e["name"] == name]
    stages = [s for e in mine for j in e["jobs"] for s in j.stages]
    out = totals(stages)
    out["s"] = sum(e["s"] for e in mine)
    out["build_s"] = sum(e["build_s"] for e in mine)
    out["jobs"] = sum(len(e["jobs"]) for e in mine)
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
