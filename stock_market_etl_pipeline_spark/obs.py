"""Labelled jobs and per-query profiles, read from Spark's own status stores.

``labelled`` tags every job started inside it with a Spark job tag, so a
query's or a stage's jobs can be found by name (``JobData.jobTags``). A tag
rides beside any job group the caller set; it does not replace it.

``profile`` runs one query the way a caller does, build then noop-sink
write, and returns a JSON-able record instead of a printed line:

- ``build_s``, ``plan_s``, ``exec_s``: the Python build, Catalyst planning
  of the built frame (``executedPlan``, measured on its own), and the write;
  ``wall_s`` is build plus write, the span a caller's build-then-action takes;
- ``build_jobs``, ``jobs``: jobs started before the action (build and
  planning) and by the action;
- ``stages``: per executed stage of the action, tasks, executor run and CPU
  ms, input, shuffle-read, shuffle-write and spilled bytes, from the core
  status store (``SparkContext.statusStore``); ``tasks``, ``cpu_s`` and
  ``shuffle_mb`` (written) are their totals;
- ``operators``: per SQL operator of the action's execution, its metrics
  (rows out, build time, peak memory ...), from the SQL status store
  (``planGraph`` + ``executionMetrics``).

Both stores are filled with ``spark.ui.enabled=false`` too. Job, stage and
execution ids only grow, so an action's jobs are the ids above the last one
seen before it.
"""

from __future__ import annotations

import contextlib
import time

MB = float(1 << 20)


@contextlib.contextmanager
def labelled(spark, label: str):
    """Tag every job started in this block with ``label``."""
    sc = spark.sparkContext
    sc.addJobTag(label)
    try:
        yield
    finally:
        sc.removeJobTag(label)


def _settled(spark):
    """The core status store once every posted event has reached it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _last_job(store) -> int:
    jobs = store.jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def _stage_ids(store, job_id: int) -> list[int]:
    ids = store.job(job_id).stageIds()
    return [ids.apply(k) for k in range(ids.size())]


def _last_execution(sql_store) -> int:
    execs = sql_store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _stage(store, stage_id: int) -> dict | None:
    s = store.lastStageAttempt(stage_id)
    if s.status().toString() == "SKIPPED":
        return None
    return {
        "id": stage_id,
        "tasks": s.numCompleteTasks() + s.numFailedTasks(),
        "run_ms": s.executorRunTime(),
        "cpu_ms": round(s.executorCpuTime() / 1e6, 1),
        "input_bytes": s.inputBytes(),
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "spill_bytes": s.diskBytesSpilled(),
    }


def _metric_total(value: str) -> str:
    """``"total (min, med, max ...)\\n66.0 MiB (...)"`` → ``"66.0 MiB"``;
    a plain count such as ``"53,307"`` is kept as it is."""
    if "\n" in value:
        return value.split("\n", 1)[1].split(" (", 1)[0]
    return value


def _operators(sql_store, execution_id: int) -> list[dict]:
    values = sql_store.executionMetrics(execution_id)
    nodes = sql_store.planGraph(execution_id).allNodes()
    out = []
    for i in range(nodes.size()):
        node = nodes.apply(i)
        metrics = {}
        ms = node.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[m.name()] = _metric_total(v.get())
        out.append({"id": node.id(), "name": node.name(), "metrics": metrics})
    return out


def profile(spark, label: str, build) -> dict:
    """Build the frame ``build()`` returns, plan it, write it to the noop
    sink, all under the job tag ``label``, and return the record described
    in the module docstring."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    with labelled(spark, label):
        job0 = _last_job(_settled(spark))
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        store = _settled(spark)
        job1, exec1 = _last_job(store), _last_execution(sql_store)
        t3 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
    store = _settled(spark)
    job2 = _last_job(store)
    # every job's newest stage is its result stage, so the stages the
    # action ran are the ids above job1's; lower ones were re-used
    floor = max(_stage_ids(store, job1)) + 1 if job1 >= 0 else 0
    stage_ids = {
        i for j in range(job1 + 1, job2 + 1) for i in _stage_ids(store, j)
        if i >= floor
    }
    stages = [s for s in (_stage(store, i) for i in sorted(stage_ids)) if s]
    return {
        "label": label,
        "wall_s": round(t1 - t0 + t4 - t3, 3),
        "build_s": round(t1 - t0, 3),
        "plan_s": round(t2 - t1, 3),
        "exec_s": round(t4 - t3, 3),
        "build_jobs": job1 - job0,
        "jobs": job2 - job1,
        "tasks": sum(s["tasks"] for s in stages),
        "cpu_s": round(sum(s["cpu_ms"] for s in stages) / 1e3, 3),
        "shuffle_mb": round(
            sum(s["shuffle_write_bytes"] for s in stages) / MB, 3),
        "stages": stages,
        "operators": _operators(sql_store, exec1 + 1),
    }
