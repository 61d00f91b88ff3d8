"""The streaming-gate harness (streaming/gate.py) releases everything a
gate creates, on the success path and on a failure inside the drain:
its scratch directory, its queries and its memory-sink views. Real
registry gates run at sf0.001 with ``tempfile.tempdir`` pointed at
the test's own directory, so any leaked feed, checkpoint or sink dir
shows up there.

Also pinned: ``write_feed`` replays waves in order, one micro-batch
each, and every drain logs one DEBUG progress line.
"""

from __future__ import annotations

import logging
import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_sprint_2_5_spark import plans
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming import gate as gate_mod
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed
from tests.conftest import SF_SMOKE

plans.load_all()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture
def scratch(spark, tmp_path, monkeypatch):
    """Route every tempfile-made dir into ``tmp_path``; after the test
    body, nothing may be left there, running, or registered."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = _temp_views(spark)
    yield tmp_path
    assert sorted(os.listdir(tmp_path)) == []
    assert spark.streams.active == []
    assert _temp_views(spark) == views


@pytest.mark.parametrize(
    "name",
    [
        "streaming_tumbling_window_agg",  # memory sink, complete mode
        "streaming_hll_estimates",  # memory sink under a shuffle override
        "streaming_ivm_aggregate_deltas",  # foreachBatch, 2-batch guard
    ],
)
def test_gate_releases_on_success(spark, scratch, name):
    rows = plans.REGISTRY[name].fn(spark, SF_SMOKE).collect()
    assert rows


def _boom(*a, **k):
    raise RuntimeError("injected failure")


def test_gate_releases_when_foreach_batch_fails(spark, scratch, monkeypatch):
    import etl_sprint_2_5_spark.operators.similarity as sim_ops

    monkeypatch.setattr(sim_ops, "ivf_topk", _boom)
    with pytest.raises(Exception, match="injected failure"):
        plans.REGISTRY["streaming_ann_topk"].fn(spark, SF_SMOKE)


def test_gate_releases_when_changelog_apply_fails(spark, scratch, monkeypatch):
    import etl_sprint_2_5_spark.streaming.ivm as ivm_mod

    monkeypatch.setattr(ivm_mod, "apply_agg_delta_batch", _boom)
    with pytest.raises(Exception, match="injected failure"):
        plans.REGISTRY["streaming_ivm_aggregate_deltas"].fn(spark, SF_SMOKE)


def test_gate_stops_query_when_wait_fails(spark, scratch, monkeypatch):
    """A failure in the wait itself (here: injected) leaves the query
    running; the harness must stop it, drop its view, remove its dir."""
    monkeypatch.setattr(StreamingQuery, "awaitTermination", _boom)
    with pytest.raises(RuntimeError, match="injected failure"):
        plans.REGISTRY["streaming_sliding_window_agg"].fn(spark, SF_SMOKE)


def test_write_feed_replays_waves_in_order(spark, scratch):
    """Three waves under maxFilesPerTrigger=1: one file and one
    micro-batch per wave, replayed in the order given — the invariant
    streaming_watermark_late_drop's three-wave feed relies on."""
    base = spark.range(30).select(
        F.col("id"), (F.col("id") % 3).alias("wave")
    )
    # the largest wave first and the smallest last, so no row-count or
    # file-size ordering could pass for the wave order
    waves = [base.where(F.col("wave") == w) for w in (2, 0, 1)]
    seen: list[list[int]] = []
    with streaming_gate(spark, "wave_order") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *waves)
        files = sorted(
            (os.path.join(feed, f) for f in os.listdir(feed)
             if f.endswith(".parquet")),
            key=os.path.getmtime,
        )
        assert len(files) == 3
        mtimes = [os.path.getmtime(f) for f in files]
        assert mtimes[0] < mtimes[1] < mtimes[2]
        assert mtimes[2] - mtimes[0] < 7 * 86400  # inside maxFileAge

        def record(batch_df, _bid: int) -> None:  # noqa: ANN001
            seen.append(sorted({r["wave"] for r in batch_df.collect()}))

        gate.drain(
            spark.readStream.schema("id long, wave long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(record)
        )
    assert seen == [[2], [0], [1]]


def test_drain_logs_trigger_progress(spark, scratch, caplog):
    with caplog.at_level(logging.DEBUG, logger=gate_mod.__name__):
        plans.REGISTRY["streaming_update_mode_counts"].fn(spark, SF_SMOKE)
    lines = [r.getMessage() for r in caplog.records if r.name == gate_mod.__name__]
    assert len(lines) == 1, lines
    m = re.fullmatch(
        r"streaming_update_mode_counts/\S+: (\d+) micro-batches, "
        r"(\d+) input rows, (\d+) ms trigger execution",
        lines[0],
    )
    assert m, lines[0]
    n_batches, n_rows, _ms = map(int, m.groups())
    assert n_batches == 2  # one per parity wave
    assert n_rows == load_table(spark, "events", SF_SMOKE).count()
