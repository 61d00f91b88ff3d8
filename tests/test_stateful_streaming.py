"""applyInPandasWithState operators under a real file-source stream:
state must survive across micro-batches and across query restarts
(checkpointed state store)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_sprint_2_5_spark.streaming.gate import drain
from etl_sprint_2_5_spark.streaming.stateful import (
    running_user_counts_stream,
    stateful_dedup_stream,
)

T0 = dt.datetime(2024, 6, 1)
SCHEMA = "event_id long, ts timestamp, user_id long"


def _write_feed(spark, path, rows, mode):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(mode).parquet(path)


def _drain(spark, feed, ckpt, out, build):
    stream = spark.readStream.schema(SCHEMA).parquet(feed)

    def sink(batch_df, batch_id):  # update-mode emissions -> append files
        batch_df.write.mode("append").parquet(out)

    drain(
        build(stream).writeStream.foreachBatch(sink).outputMode("update"),
        ckpt, "stateful",
    )


def test_stateful_dedup_across_batches_and_restarts(spark, tmp_path):
    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    # batch 1: ids 1,2 with an in-batch duplicate of 1
    _write_feed(spark, feed, [(1, T0, 10), (1, T0, 10), (2, T0, 11)], "overwrite")
    _drain(spark, feed, ckpt, out, stateful_dedup_stream)
    got = spark.read.parquet(out)
    assert {r["event_id"] for r in got.collect()} == {1, 2}
    assert {r["event_id"]: r["n_duplicates"] for r in got.collect()}[1] == 1

    # batch 2 (restarted query, same checkpoint): re-delivery of 1 and
    # 2 must be suppressed by state; only 3 is new
    _write_feed(spark, feed, [(1, T0, 10), (2, T0, 11), (3, T0, 12)], "append")
    _drain(spark, feed, ckpt, out, stateful_dedup_stream)
    got = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3}
    ids = [r["event_id"] for r in spark.read.parquet(out).collect()]
    assert len(ids) == len(set(ids)), "a re-delivered id was emitted twice"


def test_running_user_counts_accumulate(spark, tmp_path):
    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    t1 = T0 + dt.timedelta(minutes=5)
    _write_feed(
        spark, feed, [(1, T0, 10), (2, T0, 10), (3, T0, 11)], "overwrite"
    )
    _drain(spark, feed, ckpt, out, running_user_counts_stream)
    _write_feed(spark, feed, [(4, t1, 10)], "append")
    _drain(spark, feed, ckpt, out, running_user_counts_stream)

    # latest emission per user carries the full running state
    latest = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("last_ts").alias("ts"))
    )
    got = {r["user_id"]: (r["n"], r["ts"]) for r in latest.collect()}
    assert got[10] == (3, t1)  # 2 in batch 1 + 1 in batch 2, ts advanced
    assert got[11] == (1, T0)


def test_asof_state_stream_matches_batch_asof(spark, tmp_path):
    """Streaming as-of (state-carried last error) equals the batch
    asof_join when events arrive in ts order, across micro-batches AND
    a checkpoint restart."""
    from etl_sprint_2_5_spark.operators.temporal import asof_join
    from etl_sprint_2_5_spark.streaming.stateful import asof_state_stream

    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def t(s):
        return T0 + dt.timedelta(seconds=s)

    batch1 = [
        (1, t(0), 10, "error", 1.5),
        (2, t(5), 10, "click", 2.0),   # sees error@0
        (3, t(3), 11, "click", 3.0),   # no error yet for user 11
    ]
    batch2 = [
        (4, t(10), 10, "error", 4.5),
        (5, t(12), 10, "click", 5.0),  # sees error@10 (state replaced)
        (6, t(15), 11, "click", 6.0),  # user 11 still has no error
    ]

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(feed)

    def drain_feed():
        stream = spark.readStream.schema(schema).parquet(feed)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        drain(
            asof_state_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append"),
            ckpt, "asof_state",
        )

    write(batch1, "overwrite")
    drain_feed()
    write(batch2, "append")
    drain_feed()  # restart from checkpoint picks up only batch2

    got = {
        r["event_id"]: (r["last_error_ts"], r["last_error_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got[2] == (t(0), 1.5)
    assert got[3] == (None, None)
    assert got[5] == (t(10), 4.5)
    assert got[6] == (None, None)

    # parity with the batch operator on the full feed
    ev = spark.createDataFrame(batch1 + batch2, schema)
    clicks = ev.where(F.col("event_type") == "click")
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts", "value")
    want = {
        r["event_id"]: (r["last_error_ts"], r["last_error_value"])
        for r in asof_join(
            clicks, errors, ["user_id"], "ts", ["value"], prefix="last_error_"
        ).collect()
    }
    assert got == want


def test_attribution_state_stream_matches_batch(spark, tmp_path):
    """Streaming last-touch attribution equals the batch window logic
    across micro-batches and a restart: state carries the last
    click/view over the batch boundary, purchases outside the 24h
    window fall back to 'direct'."""
    from etl_sprint_2_5_spark.streaming.stateful import attribution_state_stream

    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/afeed", f"{tmp}/ackpt", f"{tmp}/aout"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def t(s):
        return T0 + dt.timedelta(seconds=s)

    batch1 = [
        (1, t(0), 10, "view", 0.0),
        (2, t(5), 10, "purchase", 9.0),     # credited to view@0
        (3, t(1), 11, "purchase", 7.0),     # nothing before -> direct
    ]
    batch2 = [
        (4, t(20), 10, "purchase", 5.0),    # view@0 carried across batches
        (5, t(30), 11, "click", 0.0),
        # 25h after the click -> outside window -> direct
        (6, dt.timedelta(seconds=30) + T0 + dt.timedelta(hours=25), 11,
         "purchase", 3.0),
    ]

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(feed)

    def drain_feed():
        stream = spark.readStream.schema(schema).parquet(feed)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        drain(
            attribution_state_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append"),
            ckpt, "attribution_state",
        )

    write(batch1, "overwrite")
    drain_feed()
    write(batch2, "append")
    drain_feed()

    got = {
        (r["user_id"], r["value"]): r["channel"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (10, 9.0): "view",
        (11, 7.0): "direct",
        (10, 5.0): "view",
        (11, 3.0): "direct",
    }
