"""IVM driver tests — the properties SURVEY §5.3-5.4 says the
reference most lacked:

1. backfill (epoch-0 cursor) produces exactly the full batch build;
2. after arbitrary mutations, incremental maintenance == from-scratch
   rebuild (per affected view);
3. re-delivering a committed batch (crash between sink and offset
   commit) changes nothing — idempotent upsert + commit-after-sink;
4. the T5 backdating blind spot behaves exactly like the reference
   (a row updated with a ts at-or-before the cursor is missed).
"""

from __future__ import annotations

import datetime as dt
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.pipeline.movie_gold import movies_gold, persons_gold
from etl_sprint_2_5_spark.pipeline.normalize import NormalizedTables, normalize
from etl_sprint_2_5_spark.streaming.ivm import run_cycle, run_to_completion
from etl_sprint_2_5_spark.streaming.movie_pipelines import movie_pipelines
from etl_sprint_2_5_spark.streaming.sink import read_view
from etl_sprint_2_5_spark.streaming.state import OffsetStore
from tests.fixtures_legacy import as_dataframes

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
TABLES = ("film_work", "genre", "person", "genre_film_work", "person_film_work")


def write_base(spark, tmp, seed=42):
    """Normalize the fixture and persist as the mutable base snapshot,
    with deterministic timestamps (T0) instead of current_timestamp."""
    t = normalize(*as_dataframes(spark, seed=seed))
    for name in TABLES:
        df = getattr(t, name)
        for c in ("created_at", "updated_at"):
            if c in df.columns:
                df = df.withColumn(c, F.lit(T0).cast("timestamp"))
        df.write.mode("overwrite").parquet(f"{tmp}/base/{name}.parquet")


def loader(spark, tmp):
    return lambda name: spark.read.parquet(f"{tmp}/base/{name}.parquet")


def current(spark, tmp) -> NormalizedTables:
    ld = loader(spark, tmp)
    return NormalizedTables(**{n: ld(n) for n in TABLES})


def rows_set(df, drop=("created_at", "updated_at")):
    df = df.drop(*[c for c in drop if c in df.columns])
    return {tuple(map(repr, r)) for r in df.collect()}


@pytest.fixture()
def env(spark, tmp_path):
    tmp = str(tmp_path)
    write_base(spark, tmp)
    offsets = OffsetStore(f"{tmp}/offsets.json")
    pipes = movie_pipelines(f"{tmp}/gold", batch_size=50)
    return tmp, offsets, pipes


def test_backfill_equals_batch_build(spark, env):
    tmp, offsets, pipes = env
    consumed = run_to_completion(spark, pipes, loader(spark, tmp), offsets)
    assert consumed > 0
    t = current(spark, tmp)
    assert rows_set(read_view(spark, f"{tmp}/gold/movies_gold")) == rows_set(
        movies_gold(t)
    )
    assert rows_set(read_view(spark, f"{tmp}/gold/persons_gold")) == rows_set(
        persons_gold(t)
    )


def _mutate(spark, tmp):
    """Title updates + a person rename + a new bridge row, all at T0+1h."""
    t1 = T0 + dt.timedelta(hours=1)
    ld = loader(spark, tmp)

    fw = ld("film_work")
    victim_ids = [r["id"] for r in fw.orderBy("id").limit(3).collect()]
    fw = fw.withColumn(
        "title",
        F.when(F.col("id").isin(victim_ids), F.concat(F.col("title"), F.lit(" v2")))
        .otherwise(F.col("title")),
    ).withColumn(
        "updated_at",
        F.when(F.col("id").isin(victim_ids), F.lit(t1)).otherwise(F.col("updated_at")),
    )
    fw.write.mode("overwrite").parquet(f"{tmp}/base/film_work.parquet.new")

    p = ld("person")
    renamed = p.orderBy("id").first()["id"]
    p = p.withColumn(
        "full_name",
        F.when(F.col("id") == renamed, F.lit("Renamed Person")).otherwise(
            F.col("full_name")
        ),
    ).withColumn(
        "updated_at",
        F.when(F.col("id") == renamed, F.lit(t1)).otherwise(F.col("updated_at")),
    )
    p.write.mode("overwrite").parquet(f"{tmp}/base/person.parquet.new")

    # new bridge row: renamed person becomes writer on some unrelated film
    pfw = ld("person_film_work")
    some_fw = spark.read.parquet(f"{tmp}/base/film_work.parquet.new") \
        .orderBy(F.desc("id")).first()["id"]
    new_row = spark.createDataFrame(
        [("pfw-new-1", some_fw, renamed, "writer", t1)],
        "id string, film_work_id string, person_id string, role string, "
        "created_at timestamp",
    )
    pfw.unionByName(new_row).write.mode("overwrite").parquet(
        f"{tmp}/base/person_film_work.parquet.new"
    )

    import shutil
    for name in ("film_work", "person", "person_film_work"):
        shutil.rmtree(f"{tmp}/base/{name}.parquet")
        shutil.move(f"{tmp}/base/{name}.parquet.new", f"{tmp}/base/{name}.parquet")


def test_incremental_equals_batch_after_mutations(spark, env):
    tmp, offsets, pipes = env
    ld = loader(spark, tmp)
    run_to_completion(spark, pipes, ld, offsets)
    _mutate(spark, tmp)
    moved = run_to_completion(spark, pipes, ld, offsets)
    assert 0 < moved < 20  # only the deltas, not a full re-scan
    t = current(spark, tmp)
    for view, build in (("movies_gold", movies_gold), ("persons_gold", persons_gold)):
        assert rows_set(read_view(spark, f"{tmp}/gold/{view}")) == rows_set(build(t)), view


def test_redelivery_is_idempotent(spark, env):
    tmp, offsets, pipes = env
    ld = loader(spark, tmp)
    run_to_completion(spark, pipes, ld, offsets)
    before = rows_set(read_view(spark, f"{tmp}/gold/movies_gold"))
    # crash-before-commit simulation: rewind one pipeline's cursor and
    # force the already-sunk batch through again
    import datetime as dtm
    offsets.set("film_work.movies", dtm.datetime(1970, 1, 1), "00000000-0000-0000-0000-000000000000")
    run_cycle(spark, pipes[0], ld, offsets)
    assert rows_set(read_view(spark, f"{tmp}/gold/movies_gold")) == before


def test_backdated_update_is_missed_t5_parity(spark, env):
    tmp, offsets, pipes = env
    ld = loader(spark, tmp)
    run_to_completion(spark, pipes, ld, offsets)
    # backdate: change a title but move updated_at BEFORE the cursor
    fw = ld("film_work")
    victim = fw.orderBy("id").first()["id"]
    fw.withColumn(
        "title",
        F.when(F.col("id") == victim, F.lit("GHOST EDIT")).otherwise(F.col("title")),
    ).withColumn(
        "updated_at",
        F.when(F.col("id") == victim, F.lit(T0 - dt.timedelta(days=1))).otherwise(
            F.col("updated_at")
        ),
    ).write.mode("overwrite").parquet(f"{tmp}/base/film_work.parquet.new")
    import shutil
    shutil.rmtree(f"{tmp}/base/film_work.parquet")
    shutil.move(f"{tmp}/base/film_work.parquet.new", f"{tmp}/base/film_work.parquet")

    assert run_to_completion(spark, pipes, ld, offsets) == 0  # nothing seen
    titles = {
        r["title"]
        for r in read_view(spark, f"{tmp}/gold/movies_gold").collect()
    }
    assert "GHOST EDIT" not in titles  # reference semantics, documented


def test_flaky_sink_retried_offset_advances_once(spark, env, monkeypatch):
    """T6: two transient sink failures → backoff retries inside the
    SAME cycle; the offset advances exactly once and the view equals
    the clean batch build (no loss, no duplicates)."""
    import etl_sprint_2_5_spark.streaming.ivm as ivm_mod
    from etl_sprint_2_5_spark.streaming.sink import upsert_keyed_parquet

    tmp, offsets, pipes = env
    ld = loader(spark, tmp)
    calls = {"n": 0}

    def flaky(spark_, batch, path, key):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("simulated transient sink failure")
        return upsert_keyed_parquet(spark_, batch, path, key)

    monkeypatch.setattr(ivm_mod, "upsert_keyed_parquet", flaky)
    monkeypatch.setattr(ivm_mod, "time", SimpleNamespace(sleep=lambda s: None))

    before_ts, before_id = offsets.get(pipes[0].name)
    n = run_cycle(spark, pipes[0], ld, offsets)
    assert n > 0 and calls["n"] == 3  # 2 failures + 1 success
    after = offsets.get(pipes[0].name)
    assert after != (before_ts, before_id)  # committed exactly once

    monkeypatch.setattr(ivm_mod, "upsert_keyed_parquet", upsert_keyed_parquet)
    run_to_completion(spark, pipes, ld, offsets)
    t = current(spark, tmp)
    assert rows_set(read_view(spark, f"{tmp}/gold/movies_gold")) == rows_set(
        movies_gold(t)
    )


def test_dead_sink_aborts_cycle_offset_unmoved(spark, env, monkeypatch):
    """A sink that never recovers exhausts the bounded retries, the
    cycle raises, and the offset does NOT advance — the batch will be
    re-delivered on the next cycle."""
    import pytest as _pytest

    import etl_sprint_2_5_spark.streaming.ivm as ivm_mod

    tmp, offsets, pipes = env
    ld = loader(spark, tmp)

    def dead(*a, **k):
        raise OSError("sink permanently down")

    monkeypatch.setattr(ivm_mod, "upsert_keyed_parquet", dead)
    monkeypatch.setattr(ivm_mod, "time", SimpleNamespace(sleep=lambda s: None))

    before = offsets.get(pipes[0].name)
    with _pytest.raises(OSError):
        run_cycle(spark, pipes[0], ld, offsets)
    assert offsets.get(pipes[0].name) == before


def test_agg_delta_retraction_and_group_drop(spark):
    """Retract/add arithmetic: a group move retracts under the old key
    and adds under the new; a retraction that empties a group REMOVES
    it from the state (n_rows=0 rows must not linger)."""
    from etl_sprint_2_5_spark.streaming.ivm import agg_delta, merge_agg_state

    state = spark.createDataFrame(
        [("a", 2, 100), ("b", 1, 50)],
        "bucket string, n_rows long, cents long",
    )
    # row worth 50 moves from b -> a with its measure doubled: b empties
    old = spark.createDataFrame([("b", 50)], "bucket string, cents long")
    new = spark.createDataFrame([("a", 100)], "bucket string, cents long")
    out = merge_agg_state(
        state, agg_delta(old, new, ["bucket"], ["cents"]), ["bucket"], ["cents"]
    )
    rows = {r.bucket: (r.n_rows, r.cents) for r in out.collect()}
    assert rows == {"a": (3, 200)}, rows

    # brand-new group via pure insert (no old image)
    empty = spark.createDataFrame([], "bucket string, cents long")
    ins = spark.createDataFrame([("c", 7)], "bucket string, cents long")
    out2 = merge_agg_state(
        out, agg_delta(empty, ins, ["bucket"], ["cents"]), ["bucket"], ["cents"]
    )
    rows2 = {r.bucket: (r.n_rows, r.cents) for r in out2.collect()}
    assert rows2 == {"a": (3, 200), "c": (1, 7)}, rows2


def test_agg_delta_ledger_exactly_once(spark, tmp_path):
    """apply_agg_delta_batch under at-least-once delivery and crash
    windows: a replayed batch id is skipped (deltas are not
    idempotent); a crash that left a COMPLETE .swap (ledger inside)
    promotes it and still skips the replay; a crash that left an
    INCOMPLETE .swap (no ledger — parquet finished but the ledger
    write didn't) discards it so the replay re-applies cleanly."""
    import json
    import os
    import shutil

    from etl_sprint_2_5_spark.streaming.ivm import (
        agg_delta,
        apply_agg_delta_batch,
    )

    state = f"{tmp_path}/state"
    empty = spark.createDataFrame([], "bucket string, cents long")
    ins = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "bucket string, cents long"
    )
    d0 = agg_delta(empty, ins, ["bucket"], ["cents"])
    assert apply_agg_delta_batch(spark, state, d0, ["bucket"], ["cents"], 0)

    def snap():
        return {
            (r.bucket, r.n_rows, r.cents)
            for r in spark.read.parquet(state).collect()
        }

    base = snap()
    assert base == {("a", 2, 30), ("b", 1, 5)}

    # plain duplicate delivery of batch 0: skipped, state unchanged
    assert not apply_agg_delta_batch(spark, state, d0, ["bucket"], ["cents"], 0)
    assert snap() == base

    # batch 1 applied, then crash-before-cleanup states:
    mv = agg_delta(
        spark.createDataFrame([("b", 5)], "bucket string, cents long"),
        spark.createDataFrame([("a", 7)], "bucket string, cents long"),
        ["bucket"],
        ["cents"],
    )
    assert apply_agg_delta_batch(spark, state, mv, ["bucket"], ["cents"], 1)
    after1 = snap()
    assert after1 == {("a", 3, 37)}

    # window A: complete .swap left behind (ledger inside), no target —
    # simulates crash between the two renames; recovery must PROMOTE
    # and the replayed batch 1 must be skipped
    os.replace(state, state + ".swap")
    assert not apply_agg_delta_batch(spark, state, mv, ["bucket"], ["cents"], 1)
    assert snap() == after1

    # window B: incomplete .swap (no ledger) + intact target at batch 1
    # — simulates crash mid-write; recovery discards it, and the NEXT
    # batch applies exactly once
    d2 = agg_delta(
        empty,
        spark.createDataFrame([("c", 100)], "bucket string, cents long"),
        ["bucket"],
        ["cents"],
    )
    d2.write.mode("overwrite").parquet(state + ".swap")  # no ledger
    marker = os.path.join(state + ".swap", "_ledger.json")
    assert not os.path.exists(marker)
    assert apply_agg_delta_batch(spark, state, d2, ["bucket"], ["cents"], 2)
    assert snap() == {("a", 3, 37), ("c", 1, 100)}
    with open(os.path.join(state, "_ledger.json")) as f:
        assert json.load(f)["last_batch"] == 2
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_merge_agg_state_negative_raises_with_null_key_identity(spark):
    """A retract for a row the state never absorbed raises, and the
    error message preserves the group identity even when a group key
    is NULL (concat_ws skips nulls, so each key is coalesced to the
    literal 'NULL' — otherwise ('a', NULL) reads as just 'a')."""
    import pytest

    from etl_sprint_2_5_spark.streaming.ivm import agg_delta, merge_agg_state

    state = spark.createDataFrame(
        [("a", "x", 1, 10)],
        "b1 string, b2 string, n_rows long, cents long",
    )
    # retract under a group the state never saw — with a NULL key part
    old = spark.createDataFrame([("a", None, 5)], "b1 string, b2 string, cents long")
    empty = spark.createDataFrame([], "b1 string, b2 string, cents long")
    bad = merge_agg_state(
        state, agg_delta(old, empty, ["b1", "b2"], ["cents"]), ["b1", "b2"], ["cents"]
    )
    with pytest.raises(Exception, match=r"went negative.*a/NULL"):
        bad.collect()


def test_change_feed_replay_with_deletes_equals_from_scratch(spark, tmp_path):
    """A downstream IVM consumer must be able to REPLAY the manifest
    change feed — including delete retractions — into a maintained
    view and land exactly on the from-scratch result. Three commits
    on the source view (base, upsert, keyed delete), feed = full
    outer diff of v1 vs v3 classified insert/update/delete/unchanged;
    applying the feed's upserts and deletes to a second view seeded
    from v1 must equal reading v3 directly."""
    from etl_sprint_2_5_spark.streaming import sink

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")

    def _b(rows):
        return spark.createDataFrame(rows, "id long, val long")

    v1 = [(i, i * 10) for i in range(30)]
    sink.upsert_keyed_parquet_bucketed(
        spark, _b(v1), src, "id", 4, keep_versions=4
    )
    sink.upsert_keyed_parquet_bucketed(  # v2: update %3, insert 100..104
        spark,
        _b([(i, i * 10 + 1) for i in range(0, 30, 3)]
           + [(i, i) for i in range(100, 105)]),
        src, "id", 4, keep_versions=4,
    )
    sink.delete_keys_bucketed(  # v3: delete %5 (some updated, some not)
        spark,
        spark.createDataFrame([(i,) for i in range(0, 30, 5)], "id long"),
        src, "id", keep_versions=4,
    )

    old = sink.read_bucketed_view(spark, src, version=1).select(
        F.col("id").alias("o_id"), F.col("val").alias("o_val")
    )
    new = sink.read_bucketed_view(spark, src, version=3)
    feed = new.join(old, new["id"] == old["o_id"], "full_outer").select(
        F.when(F.col("o_id").isNull(), F.lit("insert"))
        .when(F.col("id").isNull(), F.lit("delete"))
        .when(F.col("val") != F.col("o_val"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("op"),
        F.coalesce(F.col("id"), F.col("o_id")).alias("id"),
        F.col("val"),
    ).persist()
    try:
        ops = {r.op for r in feed.select("op").distinct().collect()}
        assert ops == {"insert", "update", "delete", "unchanged"}

        # maintained view: seed from v1, then replay the feed
        sink.upsert_keyed_parquet_bucketed(
            spark, _b(v1), dst, "id", 4, keep_versions=1
        )
        sink.upsert_keyed_parquet_bucketed(
            spark,
            feed.where(F.col("op").isin("insert", "update")).select(
                "id", "val"
            ),
            dst, "id", 4, keep_versions=1,
        )
        sink.delete_keys_bucketed(
            spark,
            feed.where(F.col("op") == "delete").select("id"),
            dst, "id", keep_versions=1,
        )

        replayed = {
            (r.id, r.val)
            for r in sink.read_bucketed_view(spark, dst).collect()
        }
        scratch = {
            (r.id, r.val)
            for r in sink.read_bucketed_view(spark, src, version=3).collect()
        }
        assert replayed == scratch
    finally:
        feed.unpersist()
