"""Watermark + tumbling-window aggregation on a real stream: append
mode only emits a window once the watermark passes its end, and data
later than the watermark is dropped — the Spark-native answer to the
reference's T5 backdating blind spot (SURVEY §2.8: the daemon silently
misses backdated rows; a watermark makes the lateness bound explicit).
"""

from __future__ import annotations

import datetime as dt

from etl_sprint_2_5_spark.streaming.gate import drain

SCHEMA = "event_id long, ts timestamp, user_id long"
T = dt.datetime(2024, 6, 1, 10, 0, 0)


def _m(minutes: float) -> dt.datetime:
    return T + dt.timedelta(minutes=minutes)


def _drain(spark, feed, ckpt, out):
    from etl_sprint_2_5_spark.streaming.windows import watermarked_window_agg

    stream = spark.readStream.schema(SCHEMA).parquet(feed)
    agg = watermarked_window_agg(
        stream, "ts", lateness="10 minutes", window="5 minutes"
    )
    drain(
        agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),  # emit only closed (watermark-passed) windows
        ckpt, "window_agg",
    )


def test_watermark_closes_windows_and_drops_late_rows(spark, tmp_path):
    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"

    # batch 1: four events in [10:00, 10:05) + one at 10:20 that pushes
    # the watermark to 10:10, closing the first window
    rows = [(i, _m(i), 1) for i in range(4)] + [(99, _m(20), 1)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(feed)
    _drain(spark, feed, ckpt, out)
    got = {(r["w_start"], r["n"]) for r in spark.read.parquet(out).collect()}
    assert (T, 4) in got, got

    # batch 2: a LATE row for the closed window (10:01 << watermark
    # 10:10) must be dropped; an event at 10:40 closes 10:20-10:25
    late_and_new = [(100, _m(1), 1), (101, _m(40), 1)]
    spark.createDataFrame(late_and_new, SCHEMA).coalesce(1).write.mode("append").parquet(feed)
    _drain(spark, feed, ckpt, out)

    by_window = {r["w_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert by_window[T] == 4, "late row leaked into a closed window"
    assert by_window[_m(20)] == 1  # the 10:20 window closed by 10:40's arrival
    assert _m(40) not in by_window  # last window never closes (no later data)


def _drain_sessions(spark, feed, ckpt, out):
    from etl_sprint_2_5_spark.streaming.windows import watermarked_session_agg

    stream = spark.readStream.schema(SCHEMA).parquet(feed)
    agg = watermarked_session_agg(
        stream, "ts", "user_id", gap="5 minutes", lateness="5 minutes"
    )
    drain(
        agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),
        ckpt, "session_agg",
    )


def test_native_session_window_merges_and_closes(spark, tmp_path):
    """session_window merges events within the gap into one session
    per key and emits it once the watermark passes last_event + gap;
    a separate burst after the gap becomes a second session."""
    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/sfeed", f"{tmp}/sckpt", f"{tmp}/sout"

    # user 1: events at 0,2,4 min (one session, gap 5m); user 2: one
    # event at 3m; then a far-future event advances the watermark past
    # every session end so everything closes.
    rows = (
        [(i, _m(2 * i), 1) for i in range(3)]
        + [(10, _m(3), 2)]
        + [(99, _m(120), 3)]
    )
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(feed)
    _drain_sessions(spark, feed, ckpt, out)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, T, 3) in got          # merged 0-4m burst
    assert (2, _m(3), 1) in got      # singleton session
    # second burst for user 1 after the gap -> NEW session
    rows2 = [(20, _m(200), 1), (21, _m(201), 1), (98, _m(400), 3)]
    spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode("append").parquet(feed)
    _drain_sessions(spark, feed, ckpt, out)
    got2 = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, _m(200), 2) in got2


def test_watermark_lag_and_comparators_pinned(spark, tmp_path):
    """Pin the exact semantics streaming_watermark_late_drop's oracle
    encodes (plans/events_queries.py): the late-row filter of batch N
    uses the TWO-batch-lagged watermark (max event time of batches
    <= N-2 minus delay, so a 2-file feed never drops anything), state
    eviction uses the one-batch-lagged value, and both predicates are
    INCLUSIVE (window_end <= wm). Crafted 4-file feed, 1h windows,
    2h delay:
      f1 10:00           -> wm from f1 = 08:00
      f2 10:30           -> wm from f1+f2 = 08:30
      f3 05:55 (end 06:00 <  08:00: dropped)
         07:30 (end 08:00 == 08:00: dropped -> drop is inclusive)
         08:15 (end 08:30 >  08:00: kept, merges into old state)
         08:55 (end 09:00 >  08:00: kept)
      f4 11:00           -> final eviction wm = 09:00
    Final emission: only window [08:00,09:00) x {08:15, 08:55} has
    end <= 09:00 -> emit is inclusive too; windows ending 11:00/11:30/
    12:00 stay in state."""
    import pyspark.sql.functions as F

    def H(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    feed = f"{tmp_path}/feed"
    files = [
        [(1, H(10, 0))],
        [(2, H(10, 30))],
        [(3, H(5, 55)), (4, H(7, 30)), (5, H(8, 15)), (6, H(8, 55))],
        [(7, H(11, 0))],
    ]
    for rows in files:
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    q = drain(
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_pin"),
        f"{tmp_path}/ckpt", "wm_pin",
    )
    got = [
        (r["we"], tuple(r["ids"]))
        for r in spark.table("wm_pin")
        .select(F.col("w.end").cast("string").alias("we"), "ids")
        .orderBy("we")
        .collect()
    ]
    assert got == [("2024-01-01 09:00:00", (5, 6))], got
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    )
    assert dropped == 2, dropped
