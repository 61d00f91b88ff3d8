"""Merged-round drain (ivm.run_round over one ivm._merge_key group):
pipelines sharing one sink + rebuild pay ONE rebuild and ONE sink
commit per drain round.

Pins the merged drain's contract:
1. result identity — merged drain lands on exactly the batch build,
   through backfill AND incremental maintenance;
2. the commit count actually drops (one manifest version per round,
   not per pipeline-cycle) — the thing the optimization exists for;
3. cursor discipline survives — a failing shared sink leaves EVERY
   member's offset unmoved (commit-after-sink, T2);
4. delta-mode pipelines are NOT merged (their compaction cadence is
   counted in upserts — collapsing rounds would shift when the log
   folds into bases, weakening the delta gate's mixed final state);
5. a drain stays within its Spark-job budget: one load per table per
   drain, one fan-out execution and one head aggregation per round.
"""

from __future__ import annotations

import datetime as dt
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import etl_sprint_2_5_spark.streaming.ivm as ivm_mod
from etl_sprint_2_5_spark.cost import tracked
from etl_sprint_2_5_spark.streaming.ivm import (
    FanOut,
    Pipeline,
    run_to_completion,
)
from etl_sprint_2_5_spark.streaming.sink import (
    load_manifest,
    read_bucketed_view,
)
from etl_sprint_2_5_spark.streaming.state import OffsetStore

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
T1 = T0 + dt.timedelta(hours=1)


def _write_base(spark, tmp: str, n: int = 40) -> None:
    items = spark.range(n).select(
        "id",
        (F.col("id") * 10).alias("val"),
        F.lit(T0).cast("timestamp").alias("updated_at"),
    )
    items.write.mode("overwrite").parquet(f"{tmp}/base/items")
    # child rows referencing items (the fan-out side)
    extras = spark.range(n * 2).select(
        (F.col("id") + 10_000).alias("ex_id"),
        (F.col("id") % n).alias("item_id"),
        F.lit(T0).cast("timestamp").alias("updated_at"),
    )
    extras.write.mode("overwrite").parquet(f"{tmp}/base/extras")


def _loader(spark, tmp: str):
    return lambda name: spark.read.parquet(f"{tmp}/base/{name}")


def _rebuild(load, ids):  # noqa: ANN001
    keys = F.broadcast(ids)
    ex = (
        load("extras")
        .withColumnRenamed("item_id", "id")
        .join(keys, "id", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_extras"))
    )
    return (
        load("items")
        .join(keys, "id", "left_semi")
        .join(ex, "id", "left")
        .select(
            "id", "val",
            F.coalesce("n_extras", F.lit(0)).cast("long").alias("n_extras"),
        )
    )


def _batch_build(spark, tmp: str):
    """The from-scratch result the maintained view must equal."""
    items = spark.read.parquet(f"{tmp}/base/items")
    ex = (
        spark.read.parquet(f"{tmp}/base/extras")
        .groupBy(F.col("item_id").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_extras"))
    )
    return items.join(ex, "id", "left").select(
        "id", "val",
        F.coalesce("n_extras", F.lit(0)).cast("long").alias("n_extras"),
    )


def _pipelines(gold: str, batch_size: int, sink_mode: str = "rewrite",
               n_buckets: int = 16, compact_every: int = 0):
    common = dict(
        rebuild=_rebuild, sink_path=gold, doc_key="id",
        n_buckets=n_buckets, sink_mode=sink_mode,
        compact_every=compact_every, batch_size=batch_size,
    )
    return [
        Pipeline(name="items", source="items", cursor_field="updated_at",
                 id_field="id", fanout=FanOut(id_field="id"), **common),
        Pipeline(name="extras", source="extras", cursor_field="updated_at",
                 id_field="ex_id", fanout=FanOut(id_field="item_id"),
                 **common),
    ]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _mutate(spark, tmp: str) -> None:
    items = spark.read.parquet(f"{tmp}/base/items")
    hit = F.col("id") % 5 == 0
    items.select(
        "id",
        F.when(hit, F.col("val") + 1).otherwise(F.col("val")).alias("val"),
        F.when(hit, F.lit(T1)).otherwise(F.col("updated_at"))
        .cast("timestamp").alias("updated_at"),
    ).write.mode("overwrite").parquet(f"{tmp}/base/items.new")
    # child rows are INSERT-ONLY (the reference's junction-table
    # semantics): new extras arrive referencing existing items, whose
    # n_extras must be rebuilt through the fan-out
    ex = spark.read.parquet(f"{tmp}/base/extras")
    new_rows = spark.range(8).select(
        (F.col("id") + 20_000).alias("ex_id"),
        ((F.col("id") * 3) % 40).alias("item_id"),
        F.lit(T1).cast("timestamp").alias("updated_at"),
    )
    ex.unionByName(new_rows).write.mode("overwrite").parquet(
        f"{tmp}/base/extras.new"
    )
    import shutil
    for name in ("items", "extras"):
        shutil.rmtree(f"{tmp}/base/{name}")
        shutil.move(f"{tmp}/base/{name}.new", f"{tmp}/base/{name}")


def test_merged_backfill_and_incremental_equal_batch(spark, tmp_path):
    """Result identity through TWO phases, plus the commit-count drop:
    one manifest version per round, not per pipeline-cycle."""
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=40)
    gold = f"{tmp}/gold/docs"
    # batch_size forces 2 backfill rounds per pipeline (items: 21+19,
    # extras: 41+39) — both pipelines stay live in both rounds
    pipes = _pipelines(gold, batch_size=21)
    pipes[1].batch_size = 41
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    ld = _loader(spark, tmp)

    consumed_a = run_to_completion(spark, pipes, ld, offsets)
    assert consumed_a == 40 + 80
    assert _rows(read_bucketed_view(spark, gold)) == _rows(
        _batch_build(spark, tmp)
    )
    # 2 rounds, both pipelines live in each → merged = 2 commits
    # (per-pipeline cycles would have published 4)
    assert int(load_manifest(gold)["version"]) == 2

    _mutate(spark, tmp)
    consumed_b = run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    assert consumed_b == 8 + 8  # items %5==0 of 40, plus 8 new extras
    assert _rows(read_bucketed_view(spark, gold)) == _rows(
        _batch_build(spark, tmp)
    )
    # one incremental round → exactly one more commit
    assert int(load_manifest(gold)["version"]) == 3


def test_merged_redelivery_is_idempotent(spark, tmp_path):
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=30)
    gold = f"{tmp}/gold/docs"
    pipes = _pipelines(gold, batch_size=100)
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    ld = _loader(spark, tmp)
    run_to_completion(spark, pipes, ld, offsets)
    before = _rows(read_bucketed_view(spark, gold))
    # crash-before-commit: rewind BOTH cursors, force the round again
    offsets.set("items", dt.datetime(1970, 1, 1), 0)
    offsets.set("extras", dt.datetime(1970, 1, 1), 0)
    run_to_completion(spark, pipes, ld, offsets)
    assert _rows(read_bucketed_view(spark, gold)) == before


def test_merged_sink_failure_leaves_every_offset_unmoved(
    spark, tmp_path, monkeypatch
):
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=30)
    gold = f"{tmp}/gold/docs"
    pipes = _pipelines(gold, batch_size=100)
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    ld = _loader(spark, tmp)

    def dead(spark_, docs, path, key, n_buckets, probe_keys=None, **kw):
        raise OSError("sink permanently down")

    monkeypatch.setattr(
        ivm_mod, "upsert_keyed_parquet_bucketed", dead, raising=True
    )
    monkeypatch.setattr(ivm_mod, "time", SimpleNamespace(sleep=lambda s: None))
    before = [offsets.get(p.name) for p in pipes]
    with pytest.raises(OSError):
        run_to_completion(spark, pipes, ld, offsets)
    assert [offsets.get(p.name) for p in pipes] == before


def test_delta_mode_pipelines_are_not_merged(spark, tmp_path, monkeypatch):
    """Delta-mode groups keep ONE UPSERT PER PIPELINE-CYCLE — the
    compaction cadence (compact_every counts upserts) must not shift."""
    import etl_sprint_2_5_spark.streaming.sink as sink_mod

    tmp = str(tmp_path)
    _write_base(spark, tmp, n=30)
    gold = f"{tmp}/gold/docs"
    pipes = _pipelines(gold, batch_size=100, sink_mode="delta",
                       compact_every=0)
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    calls = {"n": 0}
    real = sink_mod.upsert_keyed_parquet_delta

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(sink_mod, "upsert_keyed_parquet_delta", counting)
    run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    # one round (batch_size > table sizes), two pipelines, delta mode
    # NOT merged → two separate delta upserts
    assert calls["n"] == 2
    assert _rows(read_bucketed_view(spark, gold)) == _rows(
        _batch_build(spark, tmp)
    )


def test_partially_drained_group_keeps_merging(spark, tmp_path):
    """A member that drains early drops out of the group while the
    rest keep going; consumed totals and the final view are exact."""
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=40)
    gold = f"{tmp}/gold/docs"
    # items drains in 1 round (40 < 100), extras needs 3 (30+30+20)
    pipes = _pipelines(gold, batch_size=100)
    pipes[1].batch_size = 30
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    consumed = run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    assert consumed == 40 + 80
    assert _rows(read_bucketed_view(spark, gold)) == _rows(
        _batch_build(spark, tmp)
    )


def _write_tags(spark, tmp: str, n_items: int, n_tags: int) -> None:
    """A dimension (tags) and the bridge (item_tags) that routes a tag
    change to its items. Only the bridge fan-out reads the bridge."""
    spark.range(n_tags).select(
        F.col("id").alias("tag_id"),
        F.lit(T0).cast("timestamp").alias("updated_at"),
    ).write.mode("overwrite").parquet(f"{tmp}/base/tags")
    spark.range(n_items).select(
        (F.col("id") % n_tags).alias("tag_id"), F.col("id").alias("item_id"),
    ).write.mode("overwrite").parquet(f"{tmp}/base/item_tags")


def _drain_jobs(spark, action, group: str):  # noqa: ANN001, ANN202
    """(Spark jobs, physical plan text of each SQL execution) that
    ``action`` runs."""
    with tracked(spark, group) as t:
        action()
    cost = t.cost()
    return cost.jobs, cost.plans


# Spark jobs a two-round drain of the two-member group below may run
# (measured: 37; before the affected ids were collected once per round
# and the head aggregations folded into one, the same drain ran 47).
# Per round: 2 for the head aggregation (AQE runs its shuffle stage as
# a job of its own), the affected-id collect, and the touched-bucket
# probe, the rebuild's broadcasts, stages and write inside the sink
# commit.
DRAIN_JOB_BUDGET = 37


def test_merged_round_job_budget(spark, tmp_path):
    """A two-member merged group (a column pluck and a bridge fan-out),
    drained in two rounds, stays within its Spark-job budget:

    - each table is loaded once per ``run_to_completion`` call;
    - the fan-out executes once per round: one execution per round
      scans the bridge, however many rebuild restrictions and sink
      probes read the affected ids;
    - one head aggregation per round counts and tails both batches;
    - the drain's Spark jobs stay within ``DRAIN_JOB_BUDGET``."""
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=40)
    _write_tags(spark, tmp, n_items=40, n_tags=6)
    gold = f"{tmp}/gold/docs"
    common = dict(rebuild=_rebuild, sink_path=gold, doc_key="id",
                  n_buckets=16)
    # items drain in 21 + 19 rows, tags in 4 + 2: two rounds, both live
    pipes = [
        Pipeline(name="items", source="items", cursor_field="updated_at",
                 id_field="id", fanout=FanOut(id_field="id"),
                 batch_size=21, **common),
        Pipeline(name="tags", source="tags", cursor_field="updated_at",
                 id_field="tag_id",
                 fanout=FanOut(id_field="tag_id", bridge="item_tags",
                               join_field="tag_id", select_field="item_id"),
                 batch_size=4, **common),
    ]
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    loads: dict[str, int] = {}
    base = _loader(spark, tmp)

    def ld(name: str):  # noqa: ANN202
        loads[name] = loads.get(name, 0) + 1
        return base(name)

    consumed = []
    jobs, plans = _drain_jobs(
        spark,
        lambda: consumed.append(run_to_completion(spark, pipes, ld, offsets)),
        "ivm_budget",
    )
    assert consumed == [40 + 6]
    assert _rows(read_bucketed_view(spark, gold)) == _rows(
        _batch_build(spark, tmp)
    )
    assert int(load_manifest(gold)["version"]) == 2  # two rounds
    assert loads == {"items": 1, "tags": 1, "item_tags": 1, "extras": 1}
    bridge_scans = [p for p in plans if "base/item_tags" in p]
    assert len(bridge_scans) == 2, bridge_scans
    heads = [p for p in plans if "InMemoryTableScan" in p and "max(" in p]
    assert len(heads) == 2, heads
    assert jobs <= DRAIN_JOB_BUDGET, jobs

    # a second call loads afresh: one more load of each polled source,
    # and the empty round runs only its head aggregation
    run_to_completion(spark, pipes, ld, offsets)
    assert loads == {"items": 2, "tags": 2, "item_tags": 1, "extras": 1}
