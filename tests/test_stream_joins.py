"""Streaming joins driven end-to-end with availableNow triggers:
stream-static enrichment matches the batch join; the stream-stream
interval join pairs views→clicks exactly like its batch equivalent
and respects the event-time bound."""

from __future__ import annotations

import datetime as dt

from etl_sprint_2_5_spark.streaming.gate import drain

T = dt.datetime(2024, 6, 1, 10, 0, 0)


def _m(minutes: float) -> dt.datetime:
    return T + dt.timedelta(minutes=minutes)


def test_stream_static_enrichment(spark, tmp_path):
    from etl_sprint_2_5_spark.streaming.joins import enrich_stream

    tmp = str(tmp_path)
    feed, ckpt, out = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/out"
    schema = "event_id long, ts timestamp, user_id long"
    rows = [(i, _m(i), i % 3) for i in range(9)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(feed)
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro")], "user_id long, segment string"
    )  # user 2 intentionally unmatched

    stream = spark.readStream.schema(schema).parquet(feed)
    drain(
        enrich_stream(stream, dim, ("user_id",))
        .writeStream.format("parquet")
        .option("path", out),
        ckpt, "enrich",
    )

    got = sorted(
        (r["event_id"], r["segment"]) for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (i, {0: "free", 1: "pro"}[i % 3]) for i in range(9) if i % 3 != 2
    )
    assert got == want


def test_stream_stream_interval_join(spark, tmp_path):
    from etl_sprint_2_5_spark.streaming.joins import interval_stream_join

    tmp = str(tmp_path)
    vfeed, cfeed, ckpt, out = (
        f"{tmp}/views",
        f"{tmp}/clicks",
        f"{tmp}/ckpt",
        f"{tmp}/out",
    )
    vschema = "view_id long, ad_id long, view_ts timestamp"
    cschema = "click_id long, ad_id long, click_ts timestamp"
    views = [(1, 10, _m(0)), (2, 20, _m(1)), (3, 10, _m(30))]
    clicks = [
        (101, 10, _m(4)),   # joins view 1 (within 10 min)
        (102, 20, _m(15)),  # too late for view 2
        (103, 10, _m(33)),  # joins view 3
        (104, 99, _m(5)),   # no matching view
    ]
    spark.createDataFrame(views, vschema).coalesce(1).write.parquet(vfeed)
    spark.createDataFrame(clicks, cschema).coalesce(1).write.parquet(cfeed)

    vs = spark.readStream.schema(vschema).parquet(vfeed)
    cs = spark.readStream.schema(cschema).parquet(cfeed)
    joined = interval_stream_join(
        vs, cs, "ad_id", "view_ts", "click_ts", max_delay="10 minutes"
    )
    drain(
        joined.select("view_id", "click_id")
        .writeStream.format("parquet")
        .option("path", out),
        ckpt, "interval_join",
    )

    got = sorted(
        (r["view_id"], r["click_id"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 101), (3, 103)]

    # batch equivalence: the same pairs from a plain batch join
    bv = spark.createDataFrame(views, vschema)
    bc = spark.createDataFrame(clicks, cschema)
    import pyspark.sql.functions as F

    batch = bv.join(
        bc,
        (bv.ad_id == bc.ad_id)
        & (bc.click_ts >= bv.view_ts)
        & (bc.click_ts <= F.expr("view_ts + interval 10 minutes")),
    ).select("view_id", "click_id")
    assert sorted(map(tuple, batch.collect())) == got


def test_stream_static_live_twin_matches_batch(spark):
    """The registered live stream-static enrichment query must equal
    the same rollup computed in one batch pass, and the fixture must
    put purchases for at least one segment in BOTH parity halves —
    so the per-segment aggregation state provably accumulates across
    the micro-batch boundary."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.plans import load_all
    from etl_sprint_2_5_spark.plans.registry import REGISTRY
    from etl_sprint_2_5_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    load_all()
    got = {
        r["segment"]: (r["n_purchases"], r["total_value"])
        for r in REGISTRY["streaming_enriched_purchase_rollup"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    ev = load_table(spark, "events", SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    dim = load_table(spark, "customer", SF_SMOKE).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    batch = ev.join(dim, "user_id").groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("v"),
    )
    want = {r["segment"]: (r["n"], r["v"]) for r in batch.collect()}
    assert got == want
    both_halves = (
        ev.join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("even"),
            F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("odd"),
        )
        .where((F.col("even") > 0) & (F.col("odd") > 0))
        .count()
    )
    assert both_halves >= 1, "no segment spans both micro-batches"
