"""The manifest sink's optimistic-commit loop, pinned for every verb.

The five write verbs — bucketed upsert, bucketed delete, delta append,
compaction and split — all stage invisible data dirs, publish ONE
manifest by compare-and-swap and GC after a win. These tests pin:

- a rival commit that wins the first publish makes the verb re-merge
  against the winner: the view holds BOTH writers' effects and lands
  at the expected version;
- a verb whose every publish loses raises "publish race" and leaves
  the committed view as it was;
- a staging write that fails releases its ``_stage-*`` dir and
  publishes nothing;
- a rebuild that emits a key outside its affected ids is a contract
  violation: the IVM round raises ``ValueError`` at once (no backoff
  sleeps) and leaves every offset unmoved.
"""

from __future__ import annotations

import datetime as dt
import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import etl_sprint_2_5_spark.streaming.ivm as ivm_mod
from etl_sprint_2_5_spark.streaming import sink
from etl_sprint_2_5_spark.streaming.ivm import run_to_completion
from etl_sprint_2_5_spark.streaming.state import OffsetStore
from tests.test_ivm_merged import _loader, _pipelines, _rebuild, _write_base

N = 64
BASE = {i: i * 10 for i in range(N)}


def _bdf(spark, rows):
    return spark.createDataFrame(rows, "id long, val long")


def _view(spark, path):
    return dict(
        (r.id, r.val) for r in sink.read_bucketed_view(spark, path).collect()
    )


def _seed(spark, path):
    """v1: ids 0..63 with val = 10·id, in 4 buckets."""
    base = spark.range(N).select("id", (F.col("id") * 10).alias("val"))
    sink.upsert_keyed_parquet_bucketed(spark, base, path, "id", 4)


def _rival_rewrite(spark, path):
    sink.upsert_keyed_parquet_bucketed(spark, _bdf(spark, [(7, -9)]), path, "id")


def _rival_delta(spark, path):
    sink.upsert_keyed_parquet_delta(spark, _bdf(spark, [(7, -9)]), path, "id")


def _prep_pending_delta(spark, path):
    sink.upsert_keyed_parquet_delta(spark, _bdf(spark, [(3, -3)]), path, "id")


# verb name → (prep after the seed, rival commit, the verb under test,
#              the verb's own effect on BASE, version after the verb)
VERBS = {
    "upsert": (
        None,
        _rival_rewrite,
        lambda spark, p: sink.upsert_keyed_parquet_bucketed(
            spark, _bdf(spark, [(5, -1)]), p, "id"
        ),
        {5: -1},
        3,
    ),
    "delete": (
        None,
        _rival_rewrite,
        lambda spark, p: sink.delete_keys_bucketed(
            spark, spark.createDataFrame([(5,)], "id long"), p, "id"
        ),
        {5: None},
        3,
    ),
    "delta_append": (
        None,
        _rival_delta,
        lambda spark, p: sink.upsert_keyed_parquet_delta(
            spark, _bdf(spark, [(5, -1)]), p, "id"
        ),
        {5: -1},
        3,
    ),
    "compact": (
        _prep_pending_delta,
        _rival_delta,
        lambda spark, p: sink.compact_bucketed_view(spark, p),
        {3: -3},
        4,
    ),
    "split": (
        None,
        _rival_rewrite,
        lambda spark, p: sink.split_buckets(spark, p, factor=2),
        {},
        3,
    ),
}


def _expected(effect: dict) -> dict:
    exp = dict(BASE)
    for k, v in effect.items():
        if v is None:
            exp.pop(k)
        else:
            exp[k] = v
    return exp


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_lost_publish_remerges_against_the_winner(
    spark, tmp_path, monkeypatch, verb
):
    prep, rival, run, effect, version = VERBS[verb]
    path = str(tmp_path / "v")
    _seed(spark, path)
    if prep is not None:
        prep(spark, path)

    real_publish = sink._publish_manifest
    calls = {"n": 0}

    def racing_publish(path_, doc):
        calls["n"] += 1
        if calls["n"] == 1:
            # the rival lands the version this publish asked for
            monkeypatch.setattr(sink, "_publish_manifest", real_publish)
            rival(spark, path)
            monkeypatch.setattr(sink, "_publish_manifest", racing_publish)
        return real_publish(path_, doc)

    monkeypatch.setattr(sink, "_publish_manifest", racing_publish)
    run(spark, path)
    monkeypatch.undo()

    assert calls["n"] == 2, "the verb should lose once, then win"
    man = sink.load_manifest(path)
    assert man["version"] == version
    assert _view(spark, path) == _expected({**effect, 7: -9})
    if verb == "compact":
        assert not man.get("delta_commits")
    if verb == "split":
        assert man["n_buckets"] == 8 and "rebucket" not in man
    if verb == "delta_append":
        assert len(man["delta_commits"]) == 2


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_every_publish_lost_raises(spark, tmp_path, monkeypatch, verb):
    prep, _, run, _, _ = VERBS[verb]
    path = str(tmp_path / "v")
    _seed(spark, path)
    if prep is not None:
        prep(spark, path)
    before = sink.load_manifest(path)

    monkeypatch.setattr(sink, "_publish_manifest", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="publish race"):
        run(spark, path)
    monkeypatch.undo()

    assert sink.load_manifest(path) == before


@pytest.mark.parametrize("write", ["upsert", "delta_append"])
def test_failed_staging_write_releases_stage_dir(spark, tmp_path, write):
    """A date before the 1582 calendar switch under the EXCEPTION
    rebase mode fails inside the parquet writer's tasks — after the
    stage dir exists, so only a ``finally`` can release it."""
    path = str(tmp_path / "v")
    rows = "id long, d date"
    good = spark.createDataFrame([(i, dt.date(2020, 1, 1)) for i in range(8)], rows)
    bad = spark.createDataFrame([(1, dt.date(900, 1, 1))], rows)
    verb = {
        "upsert": sink.upsert_keyed_parquet_bucketed,
        "delta_append": sink.upsert_keyed_parquet_delta,
    }[write]
    verb(spark, good, path, "id", 4)
    version = sink.load_manifest(path)["version"]

    conf = "spark.sql.parquet.datetimeRebaseModeInWrite"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "EXCEPTION")
    try:
        with pytest.raises(Exception, match="TASK_WRITE_FAILED|REBASE"):
            verb(spark, bad, path, "id", 4)
    finally:
        spark.conf.set(conf, old)

    assert not [n for n in os.listdir(path) if n.startswith("_stage-")]
    assert sink.load_manifest(path)["version"] == version


def test_rebuild_outside_affected_ids_fails_fast(spark, tmp_path, monkeypatch):
    """The rebuild emits 100 ids nobody changed; the round's probe
    covers at most the two buckets its two affected ids hash into, so
    the staged stray buckets violate the probe-superset contract."""
    tmp = str(tmp_path)
    _write_base(spark, tmp, n=20)

    def leaky_rebuild(load, ids):  # noqa: ANN001
        strays = spark.range(1000, 1100).select(
            "id", F.lit(0).cast("long").alias("val"),
            F.lit(0).cast("long").alias("n_extras"),
        )
        return _rebuild(load, ids).unionByName(strays)

    pipes = _pipelines(f"{tmp}/gold/docs", batch_size=1)
    for p in pipes:
        p.rebuild = leaky_rebuild
    offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)
    sleeps: list[float] = []
    monkeypatch.setattr(
        ivm_mod, "time", SimpleNamespace(sleep=sleeps.append)
    )
    before = [offsets.get(p.name) for p in pipes]
    with pytest.raises(ValueError, match="superset"):
        run_to_completion(spark, pipes, _loader(spark, tmp), offsets)
    assert sleeps == []
    assert [offsets.get(p.name) for p in pipes] == before
