"""A job group's Spark work, read from the driver's status store (the
store the Spark UI reads). It keeps only ``spark.ui.retainedJobs``
jobs, so read a group soon after its jobs end."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def group_stages(
    spark: SparkSession, group: str, skip=(), last: bool = False
) -> tuple[list[int], list]:
    """(ids of job group ``group``'s jobs not in ``skip``, the last
    attempt of each stage they ran that the store holds yet); with
    ``last``, only the final stage of the last job with stages."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()

    def stage(sid):
        try:
            return store.lastStageAttempt(sid)
        except Py4JJavaError:  # not in the status store yet
            return None

    jobs = sorted(j for j in tracker.getJobIdsForGroup(group) if j not in skip)
    infos = [i for i in map(tracker.getJobInfo, jobs) if i is not None]
    staged = [i for i in infos if i.stageIds]
    if last:
        sids = [max(staged[-1].stageIds)] if staged else []
    else:
        sids = sorted({sid for i in staged for sid in i.stageIds})
    stages = [s for s in map(stage, sids) if s is not None]
    return [i.jobId for i in infos], stages


def record(spark: SparkSession, group: str) -> dict:
    """Totals over job group ``group``'s jobs, once every event posted
    so far is in the store. A stage a later job reuses is skipped
    there and counts once."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = group_stages(spark, group)
    tasks = [s.numCompleteTasks() for s in stages]
    return {
        "jobs": len(jobs),
        "stages": sum(1 for n in tasks if n),
        "tasks": sum(tasks),
        "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
        "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
        "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
    }
