"""What a block of Spark work cost, read from Spark's own status stores.

``with tracked(spark, "name") as t:`` runs the block under a job group
of its own; ``t.cost()`` then sums the stage metrics of that block's
jobs only, and lists the physical plan of each SQL execution the block
started. Nothing is wrapped or patched. This module is the one place
that knows the stores' format: py4j calls, Scala ``Option``s and CPU
time in nanoseconds. The listener bus fills the stores asynchronously,
so entering and leaving a block wait for it to drain. The stores keep
a bounded number of stages (``spark.ui.retainedStages``) and evict
skipped ones first: a stage that ran but was evicted before ``cost()``
reads it is counted in ``stages_evicted``, not silently left out.
Reading takes about one py4j round trip per metric per stage.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel")


@dataclass
class Cost:
    """Totals over a block's jobs; stages Spark skipped (their shuffle
    output already existed) are not counted."""

    jobs: int = 0
    stages: int = 0
    stages_evicted: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: int = 0
    jvm_gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    #: physical plan text of each SQL execution, in start order
    plans: list[str] = field(default_factory=list)

    def counts(self) -> dict[str, int]:
        """Every figure but the plans."""
        return {k: v for k, v in asdict(self).items() if k != "plans"}


def _last_execution(spark: SparkSession) -> int:
    """Id of the latest SQL execution, once the listener bus has
    delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


class Tracked:
    """One block's handle: its job group and SQL execution id range."""

    def __init__(self, spark: SparkSession, group: str) -> None:
        self.spark = spark
        self.group = f"{group}-{uuid.uuid4().hex[:12]}"
        self.executions = range(0)

    def cost(self) -> Cost:
        sc = self.spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        c = Cost()
        for job in tracker.getJobIdsForGroup(self.group):
            c.jobs += 1
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            complete = 0
            for stage_id in info.stageIds:
                try:
                    s = store.lastStageAttempt(stage_id)
                except Py4JJavaError as e:
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    continue  # evicted; counted below if it ran
                status = s.status().toString()
                if status == "SKIPPED":
                    continue
                complete += status == "COMPLETE"
                c.stages += 1
                c.tasks += s.numCompleteTasks()
                c.executor_run_ms += s.executorRunTime()
                c.executor_cpu_ms += s.executorCpuTime() // 1_000_000
                c.jvm_gc_ms += s.jvmGcTime()
                c.input_bytes += s.inputBytes()
                c.shuffle_read_bytes += s.shuffleReadBytes()
                c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.stages_evicted += store.job(job).numCompletedStages() - complete
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for i in self.executions:
            execution = sql.execution(i)
            if execution.isDefined():
                c.plans.append(execution.get().physicalPlanDescription())
        return c


@contextmanager
def tracked(spark: SparkSession, group: str) -> Iterator[Tracked]:
    """Run the block under a job group of its own, named after
    ``group``; on exit, also on an exception, the caller's previous
    group comes back. Blocks may nest: jobs count toward the innermost."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPERTIES}
    t = Tracked(spark, group)
    first = _last_execution(spark) + 1
    sc.setJobGroup(t.group, group)
    try:
        yield t
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    t.executions = range(first, _last_execution(spark) + 1)
