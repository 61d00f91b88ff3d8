"""Temporal-join queries over the events table: as-of state
attachment and interval (range) joins, oracle-checked against
DuckDB's native ASOF JOIN / inequality join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.temporal import asof_join, interval_join_binned
from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed

BURST_WINDOW_S = 600  # clicks within 10 min after an error


_ASOF_ORACLE = """
    WITH clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ), errors AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'error'
    )
    SELECT c.event_id, c.user_id,
           epoch_us(c.ts)              AS ts_us,
           c.value,
           epoch_us(e.ts)              AS last_error_us,
           e.value                     AS last_error_value
    FROM clicks c ASOF LEFT JOIN errors e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    ORDER BY c.event_id
    """


@query(
    "asof_last_error",
    oracle=_ASOF_ORACLE,
    covers=("X-temporal-asof",),
)
def asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click annotated with the user's most
    recent error at-or-before it (NULLs when none). The union-trick
    operator shuffles once on user_id — no pair expansion — vs
    DuckDB's native ASOF JOIN as the oracle."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, errors, ["user_id"], "ts", ["value"], prefix="last_error_")
    return (
        out.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            F.unix_micros("last_error_ts").alias("last_error_us"),
            F.col("last_error_value"),
        )
        .orderBy("event_id")
    )


_BURST_ORACLE = f"""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id,
           epoch_us(e.ts) AS err_us,
           count(c.ts)    AS n_clicks,
           round(coalesce(sum(c.value), 0), 2) AS click_value
    FROM errors e LEFT JOIN clicks c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts
     AND c.ts <= e.ts + INTERVAL {BURST_WINDOW_S} SECOND
    GROUP BY e.event_id, e.user_id, e.ts
    ORDER BY e.event_id
    """


@query(
    "interval_burst_join",
    oracle=_BURST_ORACLE,
    covers=("X-temporal-range",),
)
def interval_burst_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks landing in the 10 minutes after each
    error, counted per error. Spark side runs the bin-bucketed
    equi-join (one hash shuffle on (user, bin)); errors with no
    clicks survive via the aggregate-then-left-join-back shape."""
    ev = load_table(spark, "events", sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    intervals = errors.withColumn(
        "end_ts",
        F.timestamp_micros(F.unix_micros("err_ts") + BURST_WINDOW_S * 1_000_000),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    hits = interval_join_binned(
        clicks,
        intervals,
        ["user_id"],
        "ts",
        "err_ts",
        "end_ts",
        bin_seconds=BURST_WINDOW_S,
    )
    per_error = hits.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("value").alias("_sum_value"),
    )
    return (
        errors.join(per_error, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("err_ts").alias("err_us"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.round(F.coalesce("_sum_value", F.lit(0.0)), 2).alias("click_value"),
        )
        .orderBy("event_id")
    )


@query(
    "scd2_user_state",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id % 10 = 0
    ), changes AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    ), versions AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS valid_to_us
      FROM changes
    )
    SELECT user_id, event_type, valid_from_us, valid_to_us,
           (valid_to_us IS NULL) AS is_current
    FROM versions
    ORDER BY user_id, valid_from_us
    """,
    covers=("X-temporal-scd2",),
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build over the event log (user_id % 10 cohort):
    consecutive same-type events collapse into versions with
    [valid_from, valid_to) bounds and an is_current flag — the
    dimension-history primitive of every warehouse load."""
    from etl_sprint_2_5_spark.operators.temporal import scd2_compact

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") % 10 == 0)
    scd = scd2_compact(ev, ("user_id",), ("event_type",), "ts", "event_id")
    return scd.select(
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    ).orderBy("user_id", "valid_from_us")


def timeline_halves(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` at the midpoint of its (ts, event_id) timeline into
    the earlier and the later half — the two waves of a time-ordered
    feed (``gate.write_feed`` replays them in that order). A real
    stream arrives in event-time order, so each source's micro-batches
    are time-monotone — which is also what makes watermark-based state
    eviction provably lossless here (nothing is ever late)."""
    from pyspark.sql import Window

    n = df.count()
    ranked = df.withColumn(
        "_rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    return (
        ranked.where(F.col("_rn") <= n // 2).drop("_rn"),
        ranked.where(F.col("_rn") > n // 2).drop("_rn"),
    )


def _time_halves(df: DataFrame, t_us: int) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` at event time ``t_us`` into the waves ts < T and
    ts >= T (every fixture ts is unique, so the cut is deterministic).
    Both micro-batches are time-monotone — a real stream arrives in
    event-time order — which is what makes watermark-based join-state
    eviction provably lossless here."""
    return (
        df.where(F.unix_micros("ts") < t_us),
        df.where(F.unix_micros("ts") >= t_us),
    )


@query(
    "streaming_interval_burst_join",
    oracle=_BURST_ORACLE,
    covers=("X-stream-stream-join-live",),
)
def streaming_interval_burst_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE twin of interval_burst_join running a genuine
    STREAM-STREAM inner join (streaming/joins.interval_stream_join),
    hash-gated by the SAME oracle: errors and clicks are two
    independent file-fed streams, each watermarked, joined on user_id
    with the event-time bound err_ts <= click_ts <= err_ts + 10min —
    the bound is what lets Spark size and EVICT the two-sided join
    state instead of buffering both streams forever.

    Each side is staged as a two-file feed split at the SAME event
    time T (maxFilesPerTrigger=1 → two micro-batches, each
    time-monotone). Burst pairs are sparse relative to the timeline
    (minutes vs a month), so T is chosen ADVERSARIALLY rather than at
    the median: the timestamp of a burst click whose error strictly
    precedes it, which forces that error into micro-batch 1 and its
    click into micro-batch 2 — the pair can then only be produced
    from the checkpointed join state carried across the boundary
    (tests/test_streaming_temporal_twins.py asserts such a pair
    exists at the gate scale). Watermark lateness (11 min) exceeds
    the 10-min join horizon, so with time-monotone feeds no valid
    pair can be evicted early (an error is only dropped once the
    watermark proves every possible matching click has arrived).

    The stream emits raw (error event_id, click value) pairs in
    append mode; the zero-click errors and the per-error rollup —
    a plain batch aggregate, not the stateful part — are attached
    after the drain, exactly like the batch twin's
    aggregate-then-left-join-back shape."""
    from etl_sprint_2_5_spark.streaming.joins import interval_stream_join

    ev = load_table(spark, "events", sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # Adversarial split time T: a burst click strictly after its error
    # (max gap, min event_id tiebreak — deterministic). Falls back to
    # the median event time when the fixture has no burst pair at all
    # (the twin then still reproduces the all-zero-click oracle rows).
    pair = (
        errors.join(clicks.select(F.col("user_id"), F.col("ts")), "user_id")
        .where(
            (F.col("ts") > F.col("err_ts"))
            & (
                F.unix_micros("ts")
                <= F.unix_micros("err_ts") + BURST_WINDOW_S * 1_000_000
            )
        )
        .orderBy(
            (F.unix_micros("ts") - F.unix_micros("err_ts")).desc(),
            F.col("event_id"),
        )
        .select(F.unix_micros("ts").alias("t_us"))
        .limit(1)
        .collect()
    )
    if pair:
        t_us = pair[0]["t_us"]
    else:  # pragma: no cover - fixtures always have a burst pair
        t_us = ev.select(
            F.expr("percentile(unix_micros(ts), 0.5)").cast("long")
        ).collect()[0][0]

    with streaming_gate(spark, "streaming_interval_burst_join") as gate:
        efeed, cfeed = f"{gate.dir}/errors", f"{gate.dir}/clicks"
        out = f"{gate.dir}/out"
        write_feed(
            efeed, *_time_halves(errors.withColumn("ts", F.col("err_ts")), t_us)
        )
        write_feed(cfeed, *_time_halves(clicks, t_us))

        es = (
            spark.readStream.schema(
                "event_id long, user_id long, err_ts timestamp, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(efeed)
            .drop("ts")
        )
        cs = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(cfeed)
            .drop("event_id")
            .withColumnRenamed("ts", "click_ts")
        )
        joined = interval_stream_join(
            es,
            cs,
            "user_id",
            "err_ts",
            "click_ts",
            max_delay=f"{BURST_WINDOW_S} seconds",
            lateness="11 minutes",
        )
        gate.drain(
            joined.select("event_id", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
        )
        pairs = spark.read.schema("event_id long, value double").parquet(out)
        per_error = pairs.groupBy("event_id").agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("value").alias("_sum_value"),
        )
        rollup = (
            errors.join(per_error, "event_id", "left")
            .select(
                "event_id",
                "user_id",
                F.unix_micros("err_ts").alias("err_us"),
                F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                F.round(F.coalesce("_sum_value", F.lit(0.0)), 2).alias(
                    "click_value"
                ),
            )
            .orderBy("event_id")
        )
        return materialize_release(rollup)


@query(
    "streaming_outer_interval_join",
    oracle=_BURST_ORACLE,
    covers=("X-stream-stream-outer-live",),
)
def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join, hash-gated by the
    batch left-join oracle: same two file-fed streams as the inner
    twin (errors ⟕ clicks within the 10-minute burst window), but the
    zero-click errors now come from THE STREAM ITSELF — an unmatched
    error emits one null-padded row when the watermark passes its
    eviction deadline (err_ts + horizon + lateness), the semantics
    production CDC joins rely on. No post-drain batch patch join: the
    rollup is computed purely from the sink, so a single unmatched
    error swallowed by broken eviction (or a duplicate null row for a
    MATCHED error) breaks the hash.

    The feeds are timeline-split at the midpoint, then each carries a
    trailing SENTINEL row (user_id −1, far future: beyond global max
    + horizon + lateness) as a third micro-batch. Without it the
    final watermark stops short of the last errors' eviction
    deadlines and their outer rows never flush — with it, the closing
    no-data micro-batch provably evicts (and emits) every unmatched
    error. The sentinel matches nothing and is filtered from the
    gated output. At scale the sentinel is unnecessary — a live
    stream's watermark keeps advancing; it exists here because
    availableNow ends the stream at the last real event."""
    from etl_sprint_2_5_spark.streaming.joins import interval_stream_join

    ev = load_table(spark, "events", sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    mid_us = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").cast("long")
    ).collect()[0][0]
    sentinel_us = max_us + (BURST_WINDOW_S + 11 * 60 + 3600) * 1_000_000

    # the third wave of each feed: the sentinel row
    e_sentinel = spark.createDataFrame(
        [(-1, -1, sentinel_us)], "event_id long, user_id long, us long"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("err_ts"))
    c_sentinel = spark.createDataFrame(
        [(-1, sentinel_us, 0.0)], "user_id long, us long, value double"
    ).select("user_id", F.timestamp_micros("us").alias("ts"), "value")

    with streaming_gate(spark, "streaming_outer_interval_join") as gate:
        efeed, cfeed = f"{gate.dir}/errors", f"{gate.dir}/clicks"
        out = f"{gate.dir}/out"
        write_feed(
            efeed,
            *_time_halves(errors.select("event_id", "user_id", "err_ts"), mid_us),
            e_sentinel,
        )
        write_feed(cfeed, *_time_halves(clicks, mid_us), c_sentinel)

        es = (
            spark.readStream.schema(
                "event_id long, user_id long, err_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(efeed)
        )
        cs = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(cfeed)
            .withColumnRenamed("ts", "click_ts")
        )
        joined = interval_stream_join(
            es,
            cs,
            "user_id",
            "err_ts",
            "click_ts",
            max_delay=f"{BURST_WINDOW_S} seconds",
            lateness="11 minutes",
            how="leftOuter",
        )
        gate.drain(
            joined.select(es.event_id, es.user_id, "err_ts", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
        )
        sink = spark.read.schema(
            "event_id long, user_id long, err_ts timestamp, value double"
        ).parquet(out)
        rollup = (
            sink.where(F.col("user_id") >= 0)
            .groupBy("event_id", "user_id", "err_ts")
            .agg(
                F.count("value").alias("n_clicks"),
                F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias(
                    "click_value"
                ),
            )
            .select(
                "event_id",
                "user_id",
                F.unix_micros("err_ts").alias("err_us"),
                "n_clicks",
                "click_value",
            )
            .orderBy("event_id")
        )
        return materialize_release(rollup)


@query(
    "streaming_asof_last_error",
    oracle=_ASOF_ORACLE,
    covers=("X-stream-asof-live",),
)
def streaming_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE twin of asof_last_error running the CUSTOM
    applyInPandasWithState operator (streaming/stateful.asof_state_stream),
    hash-gated by the SAME oracle: one (err_ts, err_value) pair per
    user in the checkpointed state store annotates every click with
    the user's most recent error at-or-before it.

    As-of state is order-sensitive, so the feed is timeline-split
    (not parity-split): an error observed in micro-batch 1 must
    annotate clicks arriving in micro-batch 2 through state, and a
    batch-2 error must NOT retroactively annotate a batch-1 click.
    Every (user_id, ts) in the fixture is unique and the split point
    falls between distinct timestamps, so (ts, event_id)-ordered
    replay makes the stream's carry-forward semantics coincide
    exactly with the batch ASOF join the oracle runs."""
    from etl_sprint_2_5_spark.streaming.stateful import (
        ASOF_OUTPUT,
        asof_state_stream,
    )

    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isin("click", "error")
    ).select("event_id", "ts", "user_id", "event_type", "value")
    with streaming_gate(spark, "streaming_asof_last_error") as gate:
        feed, out = f"{gate.dir}/feed", f"{gate.dir}/out"
        write_feed(feed, *timeline_halves(ev))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        gate.drain(
            asof_state_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
        )
        sink = spark.read.schema(ASOF_OUTPUT).parquet(out)
        return materialize_release(
            sink.select(
                "event_id",
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "value",
                F.unix_micros("last_error_ts").alias("last_error_us"),
                "last_error_value",
            ).orderBy("event_id")
        )
