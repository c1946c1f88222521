"""Spark work per job group, read back from the driver's status store.

Spark keeps every job's and stage's metrics in
``SparkContext.statusStore()`` with the UI disabled, so the work a block of
driver code caused is measured by tagging its jobs with one job group
(:func:`job_group`) and summing that group's completed stages
(:func:`group_totals`). The eager jobs a query runs while it is being
built (``localCheckpoint``, driver-side ``collect``) land in the group
like the final plan's own jobs, which a walk of the final plan's
SQLMetrics cannot see.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

#: per-stage fields summed into a group's totals, with unit scaling
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
}


@contextmanager
def job_group(spark: SparkSession, name: str):
    """Tag every Spark job this thread starts inside the block with job
    group ``name``; the enclosing group (if any) is restored after."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    outer_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc.setLocalProperty("spark.job.description", outer_desc)


def group_totals(spark: SparkSession, name: str) -> dict[str, float]:
    """Jobs, completed stages and the summed stage metrics of job group
    ``name``, plus ``peak_mem_bytes``: the largest peak execution memory
    of any one task. Skipped stages (whose shuffle output an earlier
    stage already wrote) are not counted."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(name)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    no_status = jvm.java.util.ArrayList()
    max_only = sc._gateway.new_array(jvm.double, 1)
    max_only[0] = 1.0
    tot = {k: 0.0 for k in _STAGE_FIELDS}
    tot.update(jobs=len(job_ids), stages=0, peak_mem_bytes=0.0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, True, max_only)
        for a in range(attempts.size()):
            sd = attempts.apply(a)
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            for key, (field, scale) in _STAGE_FIELDS.items():
                tot[key] += getattr(sd, field)() * scale
            dist = sd.taskMetricsDistributions()
            if dist.isDefined():
                peak = dist.get().peakExecutionMemory().apply(0)
                tot["peak_mem_bytes"] = max(tot["peak_mem_bytes"], peak)
    return tot
