"""The one change-apply core (ivm.apply_changes) and its callers:

1. a sink contract violation (ValueError) fails fast — no backoff
   sleeps, every offset unmoved;
2. a head aggregation that raises mid-round releases every batch the
   round cached;
3. the streaming foreachBatch path retries a transient sink failure
   exactly like the batch drain;
4. same-sink pipelines that miss the merge only because their rebuild
   functions are distinct objects are logged.
"""

from __future__ import annotations

import logging
from types import SimpleNamespace

import pytest

import etl_sprint_2_5_spark.streaming.ivm as ivm_mod
from etl_sprint_2_5_spark.pipeline.movie_gold import movies_gold
from etl_sprint_2_5_spark.streaming.ivm import run_to_completion
from etl_sprint_2_5_spark.streaming.movie_pipelines import movie_pipelines
from etl_sprint_2_5_spark.streaming.sink import (
    read_view,
    upsert_keyed_parquet,
    upsert_keyed_parquet_bucketed,
)
from etl_sprint_2_5_spark.streaming.state import OffsetStore
from etl_sprint_2_5_spark.streaming.structured import stream_pipeline
from tests.test_cache_lifecycle import _cache_manager_empty
from tests.test_ivm import current, loader, rows_set, write_base
from tests.test_ivm_merged import _loader, _pipelines, _rebuild, _write_base


def test_contract_violation_fails_fast_offsets_unmoved(
    spark, tmp_path, monkeypatch
):
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=20)
    gold = f"{tmp}/gold/docs"
    # the view already exists, stamped with a different key
    upsert_keyed_parquet_bucketed(
        spark, spark.range(3).withColumnRenamed("id", "other"), gold,
        "other", 16,
    )
    pipes = _pipelines(gold, batch_size=100)
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    sleeps: list[float] = []
    # a stand-in module, not a patched time.sleep: other threads of the
    # process keep calling the real one
    monkeypatch.setattr(
        ivm_mod, "time", SimpleNamespace(sleep=sleeps.append)
    )
    before = [offsets.get(p.name) for p in pipes]
    with pytest.raises(ValueError, match="keyed by"):
        run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    assert sleeps == []
    assert [offsets.get(p.name) for p in pipes] == before


def test_failing_head_aggregation_releases_every_cached_batch(
    spark, tmp_path
):
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=20)
    pipes = _pipelines(f"{tmp}/gold/docs", batch_size=100)
    # the second member's batch lacks its cursor column, so its head
    # aggregation raises after the first member's batch is cached
    pipes[1].cursor_field = "no_such_column"
    pipes[1].batch_fn = lambda ts, last_id, n: spark.read.parquet(
        f"{tmp}/base/extras"
    ).drop("updated_at")
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="no_such_column"):
        run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    assert _cache_manager_empty(spark)


def test_stream_retries_transient_sink_failure(spark, tmp_path, monkeypatch):
    tmp = str(tmp_path)
    write_base(spark, tmp)
    ld = loader(spark, tmp)
    pipe = [p for p in movie_pipelines(f"{tmp}/gold")
            if p.name == "film_work.movies"][0]
    calls = {"n": 0}

    def flaky(spark_, batch, path, key):  # noqa: ANN001
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("simulated transient sink failure")
        return upsert_keyed_parquet(spark_, batch, path, key)

    monkeypatch.setattr(ivm_mod, "upsert_keyed_parquet", flaky)
    monkeypatch.setattr(
        ivm_mod, "time", SimpleNamespace(sleep=lambda s: None)
    )

    fw = ld("film_work")
    feed = f"{tmp}/feed/film_work"
    fw.write.parquet(feed)
    q = stream_pipeline(spark, pipe, feed, fw.schema, ld, f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    assert calls["n"] == 3  # 2 failures + 1 success
    assert rows_set(read_view(spark, f"{tmp}/gold/movies_gold")) == rows_set(
        movies_gold(current(spark, tmp))
    )


@pytest.mark.parametrize("shared", [False, True])
def test_missed_merge_is_logged(spark, tmp_path, caplog, shared):
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=10)
    pipes = _pipelines(f"{tmp}/gold/docs", batch_size=100)
    if not shared:
        # equivalent builders, but one closure per pipeline
        for p in pipes:
            p.rebuild = lambda load, ids: _rebuild(load, ids)
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    with caplog.at_level(logging.WARNING, logger=ivm_mod.__name__):
        run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    warnings = [r.getMessage() for r in caplog.records
                if r.name == ivm_mod.__name__]
    if shared:
        assert warnings == []
    else:
        assert len(warnings) == 1
        assert "items" in warnings[0] and "extras" in warnings[0]
