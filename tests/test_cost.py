"""cost.tracked: a block's Spark cost, read from Spark's status stores,
for that block's jobs only, with the caller's job group restored."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.cost import tracked


def _group(spark):  # noqa: ANN001, ANN202
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def test_groupby_block_reports_jobs_shuffle_and_cpu(spark):
    with tracked(spark, "groupby") as t:
        spark.range(10_000).groupBy(F.col("id") % 7).count().collect()
    cost = t.cost()
    assert cost.jobs >= 1
    assert cost.stages >= 2 and cost.tasks >= cost.stages
    assert cost.shuffle_write_bytes > 0 and cost.shuffle_read_bytes > 0
    assert cost.executor_cpu_ms > 0
    assert cost.stages_evicted == 0
    assert any("HashAggregate" in p for p in cost.plans), cost.plans


def test_blocks_in_a_row_do_not_share_jobs(spark):
    with tracked(spark, "same") as first:
        spark.range(100).collect()
    with tracked(spark, "same") as second:
        spark.range(100).collect()
        spark.range(100).collect()
    a, b = first.cost(), second.cost()
    assert a.jobs >= 1 and b.jobs == 2 * a.jobs
    assert len(a.plans) == 1 and len(b.plans) == 2
    st = spark.sparkContext.statusTracker()
    assert set(st.getJobIdsForGroup(first.group)).isdisjoint(
        st.getJobIdsForGroup(second.group)
    )


def test_previous_group_restored_on_exit_and_on_error(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's group")
    try:
        with tracked(spark, "inner") as t:
            assert _group(spark) == t.group
        assert _group(spark) == "caller"
        with pytest.raises(ZeroDivisionError):
            with tracked(spark, "failing"):
                spark.range(10).collect()
                1 / 0
        assert _group(spark) == "caller"
        assert sc.getLocalProperty("spark.job.description") == (
            "the caller's group"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with tracked(spark, "no caller group"):
        pass
    assert _group(spark) is None
