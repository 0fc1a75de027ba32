"""One measured run, shared by ``bench.py`` and the tools.

``warm`` readies a session, ``timed_write`` times one noop-sink write
of a DataFrame under a job group, and ``stage_stats`` reads that
group's jobs, stages and tasks back from the application status store.
The store is Spark's own accounting (the one the UI renders), so the
numbers are there with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import gc
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

# the fact and text tables the headline queries scan
WARM_TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")

_MB = 1 / (1 << 20)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] = (),
    warm_dir: str | None = None,
) -> None:
    """JVM/codegen on a trivial job, one noop pass over the input files
    (footer reads and page cache, which a parquet ``count()`` would skip
    because footer stats answer it), then, when ``warm_dir`` is given,
    one run of each registry query ``names`` there so the timed runs
    measure execution rather than Janino compilation."""
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in WARM_TABLES:
        _noop(load_table(spark, sf_dir, t))
    if warm_dir:
        for name in names:
            _noop(REGISTRY[name].fn(spark, warm_dir))


def timed_write(spark: SparkSession, build: Callable[[], DataFrame], group: str) -> float:
    """Wall seconds of building ``build()`` and writing it to the noop
    sink, with every job it starts (eager ones inside ``build`` too)
    under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        _noop(build())
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # drop py4j refs promptly so ContextCleaner can unpersist
    # localCheckpoint blocks (spark.cleaner.periodicGC is 30 min)
    gc.collect()
    return wall


def _seq(jseq) -> list:
    """A Scala Seq proxied by py4j, as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def stage_stats(spark: SparkSession, group: str) -> dict:
    """Jobs, completed stages and task totals of job group ``group``.

    ``jobs`` lists the group's job ids; the sums run over the completed
    stage attempts of those jobs (a skipped stage ran nothing: its
    output came from an earlier stage).  ``per_stage`` holds each such
    attempt's median and max task run time, the task-duration quantiles
    the UI's ``taskSummary`` shows; an attempt with no successful task
    metrics is left out of it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages, per_stage = [], []
    for sid in sorted(stage_ids):
        attempts = store.stageData(
            sid,
            False,
            getattr(store, "stageData$default$3")(),
            False,
            getattr(store, "stageData$default$5")(),
        )
        for s in _seq(attempts):
            if s.status().toString() != "COMPLETE":
                continue
            stages.append(s)
            summary = store.taskSummary(sid, s.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                per_stage.append(
                    {"stage": sid, "attempt": s.attemptId(),
                     "median_ms": run.apply(0), "max_ms": run.apply(1)}
                )
    return {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": sum(s.numTasks() for s in stages),
        "task_run_ms": sum(s.executorRunTime() for s in stages),
        "input_mb": sum(s.inputBytes() for s in stages) * _MB,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) * _MB,
        "mem_spill_mb": sum(s.memoryBytesSpilled() for s in stages) * _MB,
        "disk_spill_mb": sum(s.diskBytesSpilled() for s in stages) * _MB,
        "per_stage": per_stage,
    }
