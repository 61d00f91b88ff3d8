"""Event-stream queries — the batch-checkable faces of the streaming
surface (SURVEY.md §2.8). The same logic runs under Structured
Streaming in etl_sprint_2_5_spark/streaming/ (watermarks, triggers);
here each is expressed over the static events table so the DuckDB
oracle can verify the semantics exactly.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed

SESSION_GAP_MIN = 30


@query(
    "tumbling_window_agg",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           count(*)                AS n_events,
           round(sum(value), 2)    AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start_us, event_type
    """,
    covers=("T1", "X-stream-window"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation — the
    Spark-native generalization of the daemon's poll cycle (T1).
    Streaming twin: streaming/windows.py watermarked_window_agg
    (driven end-to-end in tests/test_watermark_streaming.py)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
        .orderBy("window_start_us", "event_type")
    )


_SESSION_ORACLE = f"""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '{SESSION_GAP_MIN} minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM gaps
    )
    SELECT user_id, session_seq,
           epoch_us(min(ts))                          AS session_start_us,
           count(*)                                   AS n_events,
           round(sum(value), 2)                       AS total_value,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """


@query(
    "session_windows",
    oracle=_SESSION_ORACLE,
    covers=("X-stream-session",),
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap, derived with
    the gaps-and-islands pattern (lag → flag → running sum). The
    streaming twin uses session_window()/applyInPandasWithState."""
    ev = load_table(spark, "events", sf_dir)
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w_order).cast("long")
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn("session_seq", F.sum("new_session").over(w_run))
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_s"
            ),
        )
        .orderBy("user_id", "session_seq")
    )


_EVENT_DEDUP_ORACLE = """
    SELECT user_id, event_type,
           min(event_id)  AS first_event_id,
           epoch_us(min(ts)) AS first_ts_us,
           count(*)       AS n_occurrences
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """


@query(
    "stateful_event_dedup",
    oracle=_EVENT_DEDUP_ORACLE,
    covers=("T3", "X-stream-dedup"),
)
def stateful_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed first-occurrence dedup — the batch face of streaming
    dropDuplicates-with-state (idempotent-upsert semantics T3: keep
    the first event per (user, type), count the rest)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.unix_micros(F.min("ts")).alias("first_ts_us"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "late_data_rescan",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
    FROM events
    WHERE ts > TIMESTAMP '2024-01-20 00:00:00' - INTERVAL '15 minutes'
      AND ts <= TIMESTAMP '2024-01-20 12:00:00'
    ORDER BY ts, event_id
    """,
    covers=("T5",),
)
def late_data_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-style lateness tolerance: re-scan a slack window
    behind the cursor (fixes the reference's backdated-updated_at
    blind spot T5, daemon.py:110-117 — documented divergence)."""
    ev = load_table(spark, "events", sf_dir)
    cursor = F.lit("2024-01-20 00:00:00").cast("timestamp")
    upper = F.lit("2024-01-20 12:00:00").cast("timestamp")
    slack = F.expr("INTERVAL 15 minutes")
    return (
        ev.where((F.col("ts") > cursor - slack) & (F.col("ts") <= upper))
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type")
        .orderBy("ts", "event_id")
    )


_SLIDING_ORACLE = """
    WITH ex AS (
      SELECT ts, value,
             time_bucket(INTERVAL '30 minutes', ts)
               - s.k * INTERVAL '30 minutes' AS w_start
      FROM events, (VALUES (0), (1)) AS s(k)
    )
    SELECT epoch_us(w_start)    AS window_start_us,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM ex
    GROUP BY w_start
    ORDER BY window_start_us
    """


@query(
    "sliding_window_agg",
    oracle=_SLIDING_ORACLE,
    covers=("X-stream-sliding",),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) 1-hour window, 30-minute slide: every event
    lands in exactly two windows (Spark expands this internally — the
    oracle mirrors it with an explicit 2-row unnest). Same plan shape
    as tumbling: one expand + one partial-aggregated shuffle."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start_us")
    )


@query(
    "conversion_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id % 5 AS cohort,
           count(*) AS n_viewed,
           count(c.user_id) AS n_clicked,
           count(p.user_id) AS n_purchased
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    GROUP BY v.user_id % 5
    ORDER BY cohort
    """,
    covers=("X-events-funnel",),
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (each step strictly after
    the previous step's FIRST occurrence), reported per user cohort.
    Three user-keyed min-aggregates + two left joins — every shuffle
    is on user_id, so at scale all five stages co-partition and AQE
    collapses the exchanges."""
    ev = load_table(spark, "events", sf_dir)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.join(c, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c.select("user_id", F.lit(1).alias("_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("_p")), "user_id", "left")
        .groupBy((F.col("user_id") % 5).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_viewed"),
            F.count("_c").alias("n_clicked"),
            F.count("_p").alias("n_purchased"),
        )
        .orderBy("cohort")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ), firsts AS (
      SELECT user_id, min(wk) AS cohort_wk FROM weekly GROUP BY user_id
    )
    SELECT epoch_us(f.cohort_wk) AS cohort_week_us,
           CAST((epoch_us(w.wk) - epoch_us(f.cohort_wk))
                // 604800000000 AS BIGINT) AS offset_weeks,
           count(*) AS n_active_users
    FROM weekly w JOIN firsts f ON w.user_id = f.user_id
    GROUP BY f.cohort_wk, offset_weeks
    ORDER BY cohort_week_us, offset_weeks
    """,
    covers=("X-events-retention",),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-active
    week, counted in each subsequent week — the product-analytics
    staple. One distinct (user, week) pass feeds both the cohort
    assignment and the activity matrix; epoch-microsecond integer
    arithmetic keeps week offsets engine-exact."""
    ev = load_table(spark, "events", sf_dir)
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    j = weekly.join(firsts, "user_id").select(
        F.unix_micros("cohort_wk").alias("cohort_week_us"),
        F.expr(
            "(unix_micros(wk) - unix_micros(cohort_wk)) div 604800000000"
        ).alias("offset_weeks"),
    )
    return (
        j.groupBy("cohort_week_us", "offset_weeks")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week_us", "offset_weeks")
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    covers=("X-events-transitions",),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: lag one
    step within each user's timeline (event_id tiebreak keeps the
    order total), count (prev, next) pairs. One shuffle on user_id
    for the window, then a map-side-combinable 25-row aggregate —
    the window state is a single row, so memory stays O(1) per key
    at any scale."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "decayed_user_engagement",
    oracle="""
    WITH scored AS (
      SELECT user_id,
             CAST(floor(
               value
               * power(0.5e0,
                       CAST((epoch_us(TIMESTAMP '2024-02-01')
                             - epoch_us(ts)) // 604800000000 AS BIGINT))
               * 1e6 + 0.5e0
             ) AS BIGINT) AS decayed_ppm
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-02-01'
    )
    SELECT user_id, count(*) AS n_purchases,
           CAST(sum(decayed_ppm) AS BIGINT) AS engagement_ppm
    FROM scored
    GROUP BY user_id
    ORDER BY engagement_ppm DESC, user_id
    LIMIT 50
    """,
    covers=("X-events-decay",),
)
def decayed_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: purchase values weighted by a
    one-week half-life (0.5^weeks_ago from a fixed anchor), summed
    per user. Decay uses power(0.5, integer-weeks) — exact in IEEE
    on both engines — and each term is fixed-pointed to ppm BEFORE
    the sum, so the aggregate is an order-independent BIGINT sum
    (double sums are association-ordered and would not hash-match).
    Single shuffle on user_id with map-side partial aggregation."""
    ev = load_table(spark, "events", sf_dir)
    anchor = F.lit("2024-02-01").cast("timestamp")
    weeks = F.expr(
        "(unix_micros(timestamp'2024-02-01') - unix_micros(ts))"
        " div 604800000000"
    )
    decayed = F.floor(
        F.col("value") * F.pow(F.lit(0.5), weeks) * F.lit(1e6) + F.lit(0.5)
    ).alias("decayed_ppm")
    return (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") < anchor))
        .select("user_id", decayed)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("decayed_ppm").alias("engagement_ppm"),
        )
        .orderBy(F.desc("engagement_ppm"), F.asc("user_id"))
        .limit(50)
    )


@query(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    seq AS (
      SELECT user_id, day,
             CAST(epoch_us(day) // 86400000000 AS BIGINT)
             - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, min(day) AS streak_start, count(*) AS streak_days
      FROM seq GROUP BY user_id, grp
    )
    SELECT user_id, epoch_us(streak_start) AS streak_start_us, streak_days
    FROM streaks
    ORDER BY streak_days DESC, user_id, streak_start_us
    LIMIT 50
    """,
    covers=("X-events-streaks",),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-day activity streaks per
    user. day_number − row_number is constant within an island, so
    one distinct pass + one user-partitioned window + one groupBy
    finds every streak — all three stages co-partitioned on user_id
    (a single shuffle reused across the window and the aggregate)."""
    ev = load_table(spark, "events", sf_dir)
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = days.select(
        "user_id",
        "day",
        (
            F.expr("unix_micros(day) div 86400000000")
            - F.row_number().over(w)
        ).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("streak_start"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select(
            "user_id",
            F.unix_micros("streak_start").alias("streak_start_us"),
            "streak_days",
        )
        .orderBy(
            F.desc("streak_days"), F.asc("user_id"), F.asc("streak_start_us")
        )
        .limit(50)
    )


_LAST_TOUCH_ORACLE = """
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS src_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN epoch_us(ts) END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS src_ts_us
      FROM events
    )
    SELECT CASE WHEN src_type IS NOT NULL
                 AND epoch_us(ts) - src_ts_us <= 86400000000
                THEN src_type ELSE 'direct' END AS channel,
           count(*) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY channel
    ORDER BY channel
    """


@query(
    "last_touch_attribution",
    oracle=_LAST_TOUCH_ORACLE,
    covers=("X-events-attribution",),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent click/view within 24h (else 'direct'). The
    carry-forward is last(ignorenulls) over the user timeline — the
    same one-shuffle user-partitioned window as sessionization, with
    O(1) state per key; the final rollup is 3 rows."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_src = F.col("event_type").isin("click", "view")
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_src, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("src_type"),
        F.last(F.when(is_src, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("src_ts_us"),
    )
    channel = F.when(
        F.col("src_type").isNotNull()
        & (F.unix_micros("ts") - F.col("src_ts_us") <= 86400000000),
        F.col("src_type"),
    ).otherwise(F.lit("direct"))
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


@query(
    "salted_event_counts",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS BIGINT)
             AS value_sum
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=("X-events-salted-agg",),
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient aggregation, oracle-checked against the plain
    GROUP BY: only 5 event types over the whole stream — the textbook
    hot-key shape — aggregated via the two-stage (key, salt) →
    key pattern (operators/skew.salted_agg_counts). The oracle is the
    UNSALTED aggregate, proving result equivalence; values are
    fixed-pointed to integer cents BEFORE summation so both stages
    are order-independent BIGINT sums."""
    from etl_sprint_2_5_spark.operators.skew import salted_agg_counts

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return salted_agg_counts(
        ev, "event_type", "event_id", "cents", factor=16
    ).select(
        "event_type", "n_events", F.col("value_sum").cast("bigint").alias("value_sum")
    ).orderBy("event_type")


import contextlib  # noqa: E402


@contextlib.contextmanager
def bounded_state_shuffle(
    spark: SparkSession, key_space_bound: int, keys_per_partition: int = 256
):
    """Scale a stateful streaming aggregation's shuffle width to the
    KEY SPACE of the aggregate instead of the session's row-scale
    default.

    A sketch aggregate bounds its group cardinality BY CONSTRUCTION
    (that is the point of a sketch: HLL registers, CMS cells, DDSketch
    buckets, KMV shard samples — hundreds to low thousands of keys
    forever). The stateful operator partitions its state by
    ``spark.sql.shuffle.partitions``, and every state partition costs
    a state-store delta file + commit PER MICRO-BATCH (and, for
    applyInPandasWithState, a Python worker round-trip) — so a
    row-scale width (32 locally, thousands on a production cluster)
    spends almost all of its per-trigger cost on partitions holding a
    handful of keys. Width here derives from the aggregate itself:
    ``ceil(bound / keys_per_partition)`` clamped to [1, session
    default] — the map-side partial aggregation already shrinks the
    shuffle to ≤ bound rows per map task, so reduce-side parallelism
    buys nothing. Derived-not-hardcoded keeps the rule valid on any
    cluster size.

    The width is read at stream START and baked into the checkpoint;
    these gates create a fresh checkpoint per run, which is what makes
    the per-query choice safe. The session value is restored on exit
    (also on failure), so batch plans around the stream are untouched."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    width = max(1, -(-int(key_space_bound) // max(1, keys_per_partition)))
    width = min(int(prev), width)
    spark.conf.set(key, str(width))
    try:
        yield width
    finally:
        spark.conf.set(key, prev)


@query(
    "streaming_tumbling_window_agg",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start_us, event_type
    """,
    covers=("T1", "X-stream-window-live"),
)
def streaming_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation executed as a LIVE Structured
    Streaming query, hash-gated by a DuckDB oracle: the events table
    is staged as a two-file feed, consumed one file per micro-batch
    (maxFilesPerTrigger=1, so the window state genuinely merges
    across batches), aggregated with the streaming state store in
    complete output mode into a memory sink, and the final table is
    returned.

    n_users (countDistinct) is omitted relative to the batch twin —
    exact distinct aggregation is unsupported inside a streaming
    aggregation (it would need a dedup stage feeding a second agg,
    and chained streaming aggregations are likewise unsupported);
    the batch query keeps the full contract."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    with streaming_gate(spark, "streaming_tumbling_window_agg") as gate:
        feed = f"{gate.dir}/feed"
        # two files → two micro-batches; ts is already micros-normalized,
        # so the stream schema is plain timestamp
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        return materialize_release(
            gate.to_memory(agg, "complete")
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start_us", "event_type")
        )


@query(
    "streaming_sliding_window_agg",
    oracle=_SLIDING_ORACLE,
    covers=("X-stream-sliding-live",),
)
def streaming_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of sliding_window_agg, hash-gated by
    the SAME oracle: hopping 1-hour/30-minute windows aggregated with
    the streaming state store across two micro-batches (one feed file
    each), complete-mode memory sink. The batch query carries no
    distinct aggregate, so stream and batch share the full contract."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "value")
    with streaming_gate(spark, "streaming_sliding_window_agg") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))

        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        return materialize_release(
            gate.to_memory(agg, "complete")
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "n_events",
                "total_value",
            )
            .orderBy("window_start_us")
        )


@query(
    "streaming_session_window_agg",
    oracle=_SESSION_ORACLE,
    covers=("X-stream-session-live",),
)
def streaming_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of session_windows, hash-gated by the
    SAME oracle: per-user sessions with a 30-minute inactivity gap,
    built by the streaming state store's native session-window merge
    (F.session_window) across two micro-batches — the feed is split
    by event_id parity, so nearly every user has events in BOTH
    files and the state genuinely merges sessions spanning the
    micro-batch boundary.

    Two semantic alignments with the batch gaps-and-islands query:
    (1) the batch splits on gap STRICTLY greater than 30 minutes,
    while session_window splits when the next event does not start
    strictly before session end — widening the gap duration by one
    microsecond (the fixture's ts resolution) makes the two
    predicates identical on every representable gap; (2) session_seq
    (the per-user ordinal) is assigned AFTER the stream drains with a
    row_number over the final session table — ordinal numbering needs
    all a user's sessions, which only exist once the stream ends; the
    sessionization itself (the stateful, unbounded part) runs fully
    in the stream."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    with streaming_gate(spark, "streaming_session_window_agg") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = stream.groupBy(
            F.session_window("ts", "30 minutes 1 microsecond").alias("sw"),
            F.col("user_id"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        seq = Window.partitionBy("user_id").orderBy("t0")
        return materialize_release(
            gate.to_memory(agg, "complete")
            .select(
                "user_id",
                F.row_number().over(seq).cast("long").alias("session_seq"),
                F.unix_micros("t0").alias("session_start_us"),
                "n_events",
                "total_value",
                (F.col("t1").cast("long") - F.col("t0").cast("long")).alias(
                    "duration_s"
                ),
            )
            .orderBy("user_id", "session_seq")
        )


@query(
    "streaming_stateful_event_dedup",
    oracle=_EVENT_DEDUP_ORACLE,
    covers=("X-stream-dedup-live",),
)
def streaming_stateful_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of stateful_event_dedup (T3's keyed
    first-occurrence state), hash-gated by the SAME oracle: per
    (user, event_type) the streaming state store keeps the minimum
    event id / timestamp and the occurrence count across two
    micro-batches (parity-split feed — a key's first occurrence in
    batch 1 must survive re-observations in batch 2, and counts must
    accumulate across the boundary), complete-mode memory sink. The
    batch query is a plain aggregate, so stream and batch share the
    full contract."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    with streaming_gate(spark, "streaming_stateful_event_dedup") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = stream.groupBy("user_id", "event_type").agg(
            F.min("event_id").alias("first_event_id"),
            F.min("ts").alias("first_ts"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        return materialize_release(
            gate.to_memory(agg, "complete")
            .select(
                "user_id",
                "event_type",
                "first_event_id",
                F.unix_micros("first_ts").alias("first_ts_us"),
                "n_occurrences",
            )
            .orderBy("user_id", "event_type")
        )


@query(
    "streaming_last_touch_attribution",
    oracle=_LAST_TOUCH_ORACLE,
    covers=("X-events-attribution-live",),
)
def streaming_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE twin of last_touch_attribution running the CUSTOM
    applyInPandasWithState operator (streaming/stateful.py
    attribution_state_stream) — not a built-in aggregation: one
    (ts, channel) pair of user state in the state store credits each
    purchase to the user's most recent click/view within 24h. The
    feed is split at the MIDPOINT OF THE GLOBAL (ts, event_id)
    TIMELINE (unlike the window twins' parity split): last-touch
    state is order-sensitive, and a real stream arrives in event-time
    order — a click in micro-batch 1 must credit a purchase arriving
    in micro-batch 2 through the checkpointed state, which the
    timeline split exercises for every user active in both halves.
    After the drain, the per-purchase emissions roll up to the same
    3-row channel table the batch oracle computes."""
    from etl_sprint_2_5_spark.plans.temporal_queries import timeline_halves
    from etl_sprint_2_5_spark.streaming.stateful import (
        ATTRIB_OUTPUT,
        attribution_state_stream,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with streaming_gate(spark, "streaming_last_touch_attribution") as gate:
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
            attribution_state_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
        )
        sink = spark.read.schema(ATTRIB_OUTPUT).parquet(out)
        rollup = (
            sink.groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.round(F.sum("value"), 2).alias("attributed_value"),
            )
            .orderBy("channel")
        )
        return materialize_release(rollup)


@query(
    "streaming_enriched_purchase_rollup",
    oracle="""
    SELECT cu.c_mktsegment     AS segment,
           count(*)            AS n_purchases,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer cu ON e.user_id = cu.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY cu.c_mktsegment
    ORDER BY segment
    """,
    covers=("X-stream-static-live", "J10"),
)
def streaming_enriched_purchase_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-static enrichment under the oracle gate: the
    purchase stream is joined per micro-batch to the customer
    dimension (streaming/joins.enrich_stream — the dim is broadcast
    into every batch and re-resolved from storage each time, the
    reference daemon's re-read-dims-every-cycle shape,
    postgres_to_es/daemon.py enrichment queries), then rolled up by
    market segment with the streaming state store across two
    parity-split micro-batches in complete mode.

    Stateless join + stateful aggregation compose: the join buffers
    nothing (no watermark needed — the dim is a static snapshot), the
    aggregation state carries per-segment counts/sums across the
    boundary. At scale the dim side stays a broadcast as long as it
    fits one executor; bigger dims switch to a pre-bucketed table and
    a shuffle-free sort-merge join."""
    from etl_sprint_2_5_spark.streaming.joins import enrich_stream

    purchases = load_table(spark, "events", sf_dir).where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "value")
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    with streaming_gate(spark, "streaming_enriched_purchase_rollup") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(
            feed, *(purchases.where(F.col("event_id") % 2 == h) for h in (0, 1))
        )

        stream = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = enrich_stream(stream, dim, ("user_id",)).groupBy("segment").agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        return materialize_release(
            gate.to_memory(agg, "complete")
            .select("segment", "n_purchases", "total_value")
            .orderBy("segment")
        )


# --- Live watermark semantics -------------------------------------------
# Constants shared by the Spark query and its DuckDB oracle. The feed is
# split into THREE micro-batches because Spark's late-row filter uses the
# watermark with a TWO-batch lag (the watermark used to drop input in
# batch N was computed from event-time stats of batches <= N-2, while
# state eviction/emission uses the one-batch-lagged value) — with only
# two data files the drop watermark never leaves 1970 and nothing is
# ever late. Empirically pinned (and unit-tested with a crafted feed in
# tests/test_watermark_streaming.py): drop iff window_end <= wm_drop,
# emit iff window_end <= wm_evict, both inclusive.
_WM_HIST_CUT = "2024-01-20 00:00:00"  # file A: history (minus stragglers)
_WM_BRIDGE_CUT = "2024-01-22 00:00:00"  # file B: (hist, bridge] spends the lag
_WM_STRAGGLER_MOD = 13  # history rows with event_id % 13 == 0 arrive late
_WM_DELAY_US = 86_400_000_000  # 1 day watermark delay
_WM_WIN_US = 14_400_000_000  # 4 hour tumbling windows


@query(
    "streaming_watermark_late_drop",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, ts, event_type, value,
             (epoch_us(ts) // {_WM_WIN_US}) * {_WM_WIN_US} AS ws_us,
             (epoch_us(ts) // {_WM_WIN_US}) * {_WM_WIN_US} + {_WM_WIN_US} AS we_us,
             (ts > TIMESTAMP '{_WM_BRIDGE_CUT}'
              OR (ts <= TIMESTAMP '{_WM_HIST_CUT}'
                  AND event_id % {_WM_STRAGGLER_MOD} = 0)) AS in_file_c
      FROM events
    ),
    wm_drop AS (  -- watermark applied to file C's input: max event time of
                  -- file A (the only data two batches back) minus the delay
      SELECT max(epoch_us(ts)) - {_WM_DELAY_US} AS us FROM ev
      WHERE ts <= TIMESTAMP '{_WM_HIST_CUT}'
        AND event_id % {_WM_STRAGGLER_MOD} <> 0
    ),
    wm_final AS (  -- eviction watermark of the trailing no-data batch
      SELECT max(epoch_us(ts)) - {_WM_DELAY_US} AS us FROM ev
    ),
    kept AS (
      SELECT * FROM ev
      WHERE NOT in_file_c
         OR we_us > (SELECT us FROM wm_drop)
    )
    SELECT ws_us AS window_start_us,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM kept
    WHERE we_us <= (SELECT us FROM wm_final)
    GROUP BY ws_us, event_type
    ORDER BY window_start_us, event_type
    """,
    covers=("T5", "X-stream-watermark-live"),
)
def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE watermarked append-mode aggregation where late data is
    REALLY dropped, hash-gated by an oracle that reproduces Spark's
    exact drop and emission rules — the missing half of T5 (the batch
    `late_data_rescan` shows the re-scan remedy; this shows the
    bounded-state default the remedy compensates for, reference
    postgres_to_es/daemon.py's cursor never revisiting old rows).

    Feed (three micro-batches via maxFilesPerTrigger=1):
      A: history  ts <= Jan 20, minus every 13th event_id,
      B: bridge   Jan 20 < ts <= Jan 22 (spends the watermark lag),
      C: remainder ts > Jan 22 PLUS the held-back history stragglers.
    Batch 2's input is filtered against wm_drop = max(ts in A) - 1d:
    stragglers in windows ending on/before it are dropped (about 18
    days' worth), the rest genuinely merge into month-old window
    state. The trailing no-data batch emits windows ending on/before
    wm_final = max(ts) - 1d; the last day's windows stay unflushed in
    state, exactly as a continuous deployment would hold them.

    At scale this is the shape that keeps streaming-agg state bounded:
    state size is O(keys x windows inside the watermark horizon),
    independent of stream length, and the drop/emit predicates are
    evaluated inside the state store operator with no extra shuffle
    (plan: one exchange on the grouping key, as the batch twin)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    hist = F.col("ts") <= F.lit(_WM_HIST_CUT).cast("timestamp")
    bridge = F.col("ts") <= F.lit(_WM_BRIDGE_CUT).cast("timestamp")
    straggler = hist & (F.col("event_id") % _WM_STRAGGLER_MOD == 0)
    with streaming_gate(spark, "streaming_watermark_late_drop") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(
            feed,
            ev.where(hist & ~straggler),
            ev.where(~hist & bridge),
            ev.where(~bridge | straggler),
        )

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = (
            stream.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "4 hours").alias("w"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        return materialize_release(
            gate.to_memory(agg, "append")
            .select(
                F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start_us", "event_type")
        )


@query(
    "salted_skew_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    dim AS (
      SELECT event_type,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             count(*)                   AS n_type
      FROM ev GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           count(*) FILTER (e.cents * d.n_type > d.sum_cents) AS n_above_avg,
           round(max(d.sum_cents) / 100.0 / max(d.n_type), 4) AS type_avg
    FROM ev e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    ORDER BY event_type
    """,
    covers=("X-skew-join",),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient equi-join under the hash gate: the events fact
    joins a per-type stats dim back on event_type — a handful of hot
    keys carrying the whole fact table, the canonical skewed-join
    shape — through operators/skew.salted_join (fact rows salt by
    event_id, dim replicates xfactor), and the oracle's PLAIN join
    proves the salted plan changes nothing but the key distribution.

    The above-average flag cross-multiplies integers
    (cents * n_type > sum_cents) instead of comparing against a
    divided double, so the verdict is bitwise identical across
    engines and row orders. On this 5-key dim Spark broadcasts the
    replicated side anyway (the right call); the salting matters when
    the dim outgrows the broadcast threshold and the join must
    shuffle — tests/test_scale_patterns.py pins that path, and
    salted_event_counts proves the same trick on the aggregate."""
    from etl_sprint_2_5_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    dim = ev.groupBy("event_type").agg(
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_type"),
    )
    joined = salted_join(ev, dim, ["event_type"], "event_id", factor=16)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("cents") * F.col("n_type") > F.col("sum_cents")).cast(
                    "long"
                )
            ).alias("n_above_avg"),
            F.round(
                F.max("sum_cents") / F.lit(100.0) / F.max("n_type"), 4
            ).alias("type_avg"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_update_mode_counts",
    oracle="""
    SELECT event_type,
           count(*)                                  AS n_events,
           CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT)                           AS n_first_batch
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=("X-stream-update-live",),
)
def streaming_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third of Spark's three streaming
    output semantics, and the one the other live twins don't
    exercise (complete re-emits everything, append only emits
    finalized rows; update emits exactly the keys TOUCHED this
    batch). The memory sink therefore accumulates one row per
    (key, batch-that-changed-it); because per-key counts only grow,
    the final state is recovered deterministically as the per-key MAX
    over emitted rows — and the first batch's emission (= the even
    event_id half's count, before the second batch arrives) is ALSO
    pinned, as the per-key MIN: the oracle checks not just the final
    totals but that update mode really emitted the intermediate
    state. At scale update mode is the changelog-to-upsert-sink
    shape: per batch it ships only changed keys, never the full
    state (complete) and without append's watermark-finalization
    latency."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type")
    with streaming_gate(spark, "streaming_update_mode_counts") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))

        stream = (
            spark.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        emitted = gate.to_memory(agg, "update")
        # per-key MIN over emitted rows is batch 1's emission ONLY for keys
        # that actually appeared in batch 1 (had at least one even
        # event_id); a key whose first emission is batch 2 would make MIN
        # equal the final cumulative count, while the oracle pins 0 — so
        # coalesce the MIN against the even-id key set instead of assuming
        # fixture parity coverage.
        first_batch_keys = (
            ev.where(F.col("event_id") % 2 == 0).select("event_type").distinct()
            .withColumn("in_b1", F.lit(True))
        )
        out = (
            emitted.groupBy("event_type")
            .agg(
                F.max("n").alias("n_events"),
                F.min("n").alias("min_n"),
            )
            .join(first_batch_keys, "event_type", "left")
            .select(
                "event_type",
                "n_events",
                F.when(F.col("in_b1"), F.col("min_n"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("n_first_batch"),
            )
            .orderBy("event_type")
        )
        return materialize_release(out)


@query(
    "variant_props_rollup",
    oracle="""
    SELECT event_type,
           count(*)                                          AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT)                                   AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT)                                   AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT)                                   AS max_k,
           CAST(count(CASE WHEN json_extract_string(props, '$.missing')
                           IS NULL THEN NULL ELSE 1 END) AS BIGINT)
                                                             AS n_has_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=("X-variant",),
)
def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    props JSON column is parsed ONCE with parse_json into the binary
    variant encoding, then fields come out with try_variant_get —
    the open-schema path next to json_extract_agg's per-path string
    extraction (get_json_object re-parses the string per path; a
    variant parses once and serves every subsequent access, the
    difference that compounds when many fields leave one document).
    A probe for an absent path ($.missing) returns NULL rather than
    erroring — counted to pin the open-schema semantics. All outputs
    are integer aggregates of the extracted field, so the oracle
    (DuckDB json_extract arithmetic) is engine-exact."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "props")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.missing", "long").alias("m"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.count("m").cast("bigint").alias("n_has_missing"),
        )
        .orderBy("event_type")
    )


def _quarantine_oracle(mod: int) -> str:
    """Clean rows per event type with the cents checksum, plus the
    ``_CORRUPT_`` bucket of every ``mod``-th event_id."""
    return f"""
    SELECT event_type            AS bucket,
           count(*)              AS n_rows,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                                 AS sum_cents
    FROM events WHERE event_id % {mod} <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '_CORRUPT_', count(*), CAST(0 AS BIGINT)
    FROM events WHERE event_id % {mod} = 0
    ORDER BY bucket
    """


def _quarantine_rollup(ev: DataFrame, line, prefix: str, read) -> DataFrame:  # noqa: ANN001
    """Stage ``line`` over ``ev`` as a 4-file text feed, read it back
    through ``read(feed, schema)``, split clean rows from the
    quarantine and roll both up (the quarantine gates' shared body)."""
    from etl_sprint_2_5_spark.schemas import TESTDATA_SCHEMAS
    from etl_sprint_2_5_spark.sources.text_files import split_corrupt
    from pyspark.sql.types import StructType

    with tempfile.TemporaryDirectory(prefix=prefix) as tmp:
        feed = f"{tmp}/feed"
        ev.select(line.alias("value")).coalesce(4).write.mode("overwrite").text(feed)

        schema = StructType(
            [f for f in TESTDATA_SCHEMAS["events"].fields
             if f.name in ("event_id", "event_type", "value")]
        )
        good, bad = split_corrupt(read(feed, schema))
        clean = good.groupBy(F.col("event_type").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        quarantined = bad.agg(
            F.lit("_CORRUPT_").alias("bucket"),
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(0).cast("bigint").alias("sum_cents"),
        )
        out = clean.unionAll(quarantined).orderBy("bucket")
        return materialize_release(out).orderBy("bucket")


@query(
    "jsonl_ingest_quarantine",
    oracle=_quarantine_oracle(97),
    covers=("X-ingest-jsonl",),
)
def jsonl_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record quarantine, END TO END
    under the hash gate (sources/text_files.py was pytest-only): the
    events table is staged as a JSONL feed in which every 97th
    event_id's line is TRUNCATED mid-token, read back through the
    PERMISSIVE schema-declared reader, split into clean rows and the
    quarantine, and rolled up — clean rows by type with a cents
    checksum (doubles survive the JSON round-trip bit-exactly via
    shortest-round-trip serialization, so the checksum matches the
    parquet-direct oracle), corrupt rows as one audited '_CORRUPT_'
    bucket. The reject-sink pattern every file-drop ingestion needs:
    bad lines never kill the job and never silently vanish — they
    land countable. JSONL splits by line, so one big file still fans
    out across executors."""
    from etl_sprint_2_5_spark.sources.text_files import read_jsonl

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    line = F.when(
        F.col("event_id") % 97 == 0,
        # truncated mid-token: unparseable, lands in _corrupt_record
        F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"),
                 F.lit(', "event_ty')),
    ).otherwise(F.to_json(F.struct("event_id", "event_type", "value")))
    return _quarantine_rollup(
        ev, line, "jsonl_ingest_",
        lambda feed, schema: read_jsonl(spark, feed, schema),
    )


@query(
    "csv_ingest_quarantine",
    oracle=_quarantine_oracle(89),
    covers=("X-ingest-csv",),
)
def csv_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV twin of jsonl_ingest_quarantine — same reject-sink
    contract, format-specific corruption: every 89th event_id's line
    carries a non-numeric value field ('NaNsense'), which PERMISSIVE
    schema enforcement quarantines as a type mismatch (CSV's
    characteristic failure; JSONL's is structural truncation).
    Headerless single-schema CSV splits by line like JSONL, so the
    feed fans out across executors. Clean rows roll up by type with
    the cents checksum — doubles are serialized by Spark's CSV writer
    round-trip-exactly — and the quarantine lands countable."""
    from etl_sprint_2_5_spark.sources.text_files import read_csv

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.when(F.col("event_id") % 89 == 0, F.lit("NaNsense")).otherwise(
            F.col("value").cast("string")
        ),
    )
    return _quarantine_rollup(
        ev, line, "csv_ingest_",
        lambda feed, schema: read_csv(spark, feed, schema, header=False),
    )


@query(
    "schema_evolution_merge",
    oracle="""
    SELECT event_type            AS bucket,
           count(*)              AS n_rows,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN user_id ELSE NULL END)
                AS BIGINT)       AS sum_user_v2,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT)       AS n_v2
    FROM events
    GROUP BY event_type
    ORDER BY bucket
    """,
    covers=("X-ingest-schema-evolution",),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a v1 batch (event_id, event_type)
    and a WIDER v2 batch (+ user_id) land in the same dataset
    directory; mergeSchema=true unions the footers into the superset
    schema and v1 rows surface user_id as NULL — additive column
    evolution without rewriting history, the contract every
    long-lived ingestion dataset needs. The rollup counts rows per
    type, sums user_id (v2-only by construction, pinned by the
    oracle's parity arithmetic), and counts the v2 rows — so the
    gate proves both that v1 rows READ (no schema conflict) and
    that their missing column is NULL, not garbage. At scale,
    mergeSchema's footer-union cost is why production datasets pin
    the superset schema in a catalog instead; the read semantics
    are identical."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "user_id"
    )
    with tempfile.TemporaryDirectory(prefix="schema_evo_") as tmp:
        data = f"{tmp}/data"
        ev.where(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.mode("append").parquet(data)
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(data)

        merged = spark.read.option("mergeSchema", "true").parquet(data)
        out = (
            merged.groupBy(F.col("event_type").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("user_id").cast("bigint").alias("sum_user_v2"),
                F.count("user_id").cast("bigint").alias("n_v2"),
            )
            .orderBy("bucket")
        )
        return materialize_release(out).orderBy("bucket")


@query(
    "partitioned_write_prune",
    oracle="""
    SELECT event_type AS bucket,
           count(*)   AS n_rows,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                      AS sum_cents
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    ORDER BY bucket
    """,
    covers=("X-layout-partition-prune",),
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout end-to-end: write the events
    table partitionBy(event_type), read it back with an IN-list
    predicate on the partition column, and roll up — the filter
    resolves against DIRECTORY NAMES at planning time (PartitionCount
    in the scan node shows 2 of 5; no byte of the other three
    partitions is opened), which is THE data-skipping mechanism a
    100 TB event store lives on: a day/type-partitioned dataset turns
    a full scan into a handful of directory listings. The cents
    checksum proves the pruned read returned exactly the two
    partitions' rows — pruning that dropped rows, or partition-column
    reconstruction that bent values, both fail the gate."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory(prefix="part_prune_") as tmp:
        data = f"{tmp}/data"
        ev.write.partitionBy("event_type").mode("overwrite").parquet(data)

        back = spark.read.parquet(data).where(
            F.col("event_type").isin("click", "purchase")
        )
        out = (
            back.groupBy(F.col("event_type").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("bucket")
        )
        return materialize_release(out).orderBy("bucket")


@query(
    "small_file_compaction",
    oracle="""
    SELECT event_type AS bucket,
           count(*)   AS n_rows,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                      AS sum_cents,
           CAST(64 AS BIGINT) AS n_files_in
    FROM events
    GROUP BY event_type
    ORDER BY bucket
    """,
    covers=("X-layout-compaction",),
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly small-file compaction job end-to-end under the
    gate: the events table lands as 64 deliberately-tiny files (the
    debris a streaming sink or over-parallel writer leaves), then
    operators/layout.py compact_small_files bin-packs them into
    ceil(total_bytes/target) row-rewritten files — range-partitioned
    and sorted on (event_type, ts), so the compaction REPAIRS
    clustering rather than round-robining it away. The gated rollup
    (per-type counts + cents checksum) proves the rewrite lost and
    bent nothing; the operator itself raises if the output file count
    exceeds the bin-pack bound, so a broken pack fails the gate
    loudly. At 100 TB this is the job that keeps scan task counts
    proportional to bytes, not to writer history."""
    from etl_sprint_2_5_spark.operators.layout import compact_small_files

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    with tempfile.TemporaryDirectory(prefix="compaction_") as tmp:
        src, dest = f"{tmp}/small", f"{tmp}/compacted"
        ev.repartition(64).write.mode("overwrite").parquet(src)

        from pathlib import Path

        total = sum(
            p.stat().st_size for p in Path(src).rglob("*.parquet") if p.is_file()
        )
        # target ≈ total/4 → bound of 4-5 files from 64
        n_out, n_in = compact_small_files(
            spark, src, dest, max(1, total // 4), order_by=["event_type", "ts"]
        )

        out = (
            spark.read.parquet(dest)
            .groupBy(F.col("event_type").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .withColumn("n_files_in", F.lit(n_in).cast("bigint"))
            .orderBy("bucket")
        )
        return materialize_release(out).orderBy("bucket")


@query(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT event_type AS bucket,
           count(*)   AS n_rows,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(floor(value * 2 * 100 + 0.5) AS BIGINT)
                         ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END)
                AS BIGINT) AS sum_cents
    FROM events
    GROUP BY event_type
    ORDER BY bucket
    """,
    covers=("X-layout-dynamic-overwrite",),
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-level UPSERT a lakehouse backfill runs: the full
    events dataset lands partitioned by type, then a corrected batch
    (clicks with value doubled) is written in OVERWRITE mode with
    partitionOverwriteMode=dynamic — only the 'click' directory is
    replaced, the other four partitions' files are untouched (static
    overwrite mode would truncate the whole dataset first, the
    classic backfill footgun this conf exists to prevent). The final
    read proves both halves: clicks carry the corrected values,
    everything else survived the overwrite byte-identical. At scale
    this is the idempotent day-partition backfill: re-running the
    job rewrites exactly the partitions it produces."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory(prefix="dyn_overwrite_") as tmp:
        data = f"{tmp}/data"
        ev.write.partitionBy("event_type").mode("overwrite").parquet(data)

        corrected = ev.where(F.col("event_type") == "click").withColumn(
            "value", F.col("value") * 2
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            corrected.write.partitionBy("event_type").mode("overwrite").parquet(
                data
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

        out = (
            spark.read.parquet(data)
            .groupBy(F.col("event_type").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("bucket")
        )
        return materialize_release(out).orderBy("bucket")


@query(
    "rfm_segmentation",
    oracle="""
    WITH p AS (
      SELECT user_id,
             max(ts) AS last_ts,
             count(*) AS freq,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), mx AS (
      SELECT max(ts) AS m FROM events
    ), scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY date_diff('second', last_ts,
                                              (SELECT m FROM mx)) ASC,
                            user_id) AS r_bucket,
             ntile(5) OVER (ORDER BY freq DESC, user_id)  AS f_bucket,
             ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_bucket
      FROM p
    )
    SELECT CAST(r_bucket AS BIGINT) AS r_bucket,
           CAST(f_bucket AS BIGINT) AS f_bucket,
           CAST(m_bucket AS BIGINT) AS m_bucket,
           count(*) AS n_users
    FROM scored
    GROUP BY r_bucket, f_bucket, m_bucket
    ORDER BY r_bucket, f_bucket, m_bucket
    """,
    covers=("X-olap-rfm",),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the classic marketing-analytics
    rollup): per purchasing user, recency (seconds before the corpus
    max event time), frequency, and monetary value in exact cents,
    each quintile-bucketed with ntile — bucket 1 = most recent / most
    frequent / highest spend — then rolled up to segment counts.
    Determinism: every ntile orders by (metric, user_id), so equal
    metrics tie-break identically cross-engine; monetary goes through
    the cents fixed-point, recency through integer seconds.

    Plan: one purchase aggregate (map-side combinable), one scalar
    max, three window passes over the per-USER table (already 3-4
    orders of magnitude smaller than the event stream — the windows
    sort users, not events), one rollup. ntile's global ordering is
    the only non-key-partitioned step; at extreme user counts the
    same buckets come from percent_rank over range-partitioned sort,
    which Spark plans for this exact shape."""
    ev = load_table(spark, "events", sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).cast("bigint").alias("cents"),
        )
    )
    mx = ev.agg(F.max("ts").alias("m"))
    scored = p.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("m").cast("long") - F.col("last_ts").cast("long")).alias(
            "rec_s"
        ),
        "freq",
        "cents",
    )
    scored = scored.select(
        F.ntile(5).over(Window.orderBy(F.asc("rec_s"), F.asc("user_id")))
        .cast("bigint")
        .alias("r_bucket"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id")))
        .cast("bigint")
        .alias("f_bucket"),
        F.ntile(5).over(Window.orderBy(F.desc("cents"), F.asc("user_id")))
        .cast("bigint")
        .alias("m_bucket"),
    )
    return (
        scored.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    )


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus AS status,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY status
    """,
    covers=("X-layout-bucketed-join",),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring big-big fact join on PRE-BUCKETED storage: both
    orders and lineitem are staged once as catalog tables bucketed 16
    ways on the join key (fingerprint-keyed names, so regenerated
    testdata rebuilds them), and the join then runs WITHOUT ANY
    EXCHANGE — the bucketed scans report their hash partitioning
    straight from storage (tests/test_scale_patterns.py asserts the
    no-shuffle plan for this layout). At 100 TB this is the single
    biggest repeated-cost lever a warehouse has: a fact table joined
    daily pays its shuffle once at write time, never per query.
    Broadcast is disabled for the join so the gate exercises the
    big-big SortMergeJoin path the bucketing exists for (at scale
    neither side broadcasts); the gated rollup proves the bucketed
    copies are byte-faithful to the source tables."""
    from etl_sprint_2_5_spark.artifacts import table_fingerprint
    from etl_sprint_2_5_spark.sources.bucketed import write_bucketed

    fp = table_fingerprint(sf_dir, "lineitem")
    to, tl = f"colo_orders_{fp}", f"colo_lineitem_{fp}"
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")

    def _ensure_staged(name: str, build_df) -> None:  # noqa: ANN001
        """saveAsTable is not crash-atomic: a run killed mid-write can
        leave a registered-but-partial table that tableExists accepts.
        Completeness proof without re-scanning the SOURCE on every
        reuse: the expected row count is stamped as a table property
        AFTER the write finishes (a crashed write never gets the
        stamp), so reuse-time validation is staged-count == stamp —
        one scan of the 2-column staged table, zero source reads. Any
        mismatch, missing stamp, or unreadable table → drop and
        rebuild."""
        prop = "etl.expected_rows"
        if spark.catalog.tableExists(name):
            try:
                stamped = {
                    r["key"]: r["value"]
                    for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
                }.get(prop)
                if stamped is not None and spark.table(name).count() == int(stamped):
                    return
            except Exception:  # noqa: BLE001 — torn files → rebuild
                pass
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(build_df, name, "o_orderkey", 16, sort_col="o_orderkey")
        n = spark.table(name).count()
        spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ('{prop}'='{n}')")

    try:
        _ensure_staged(
            to,
            load_table(spark, "orders", sf_dir).select(
                "o_orderkey", "o_orderstatus"
            ),
        )
        _ensure_staged(
            tl,
            load_table(spark, "lineitem", sf_dir).select(
                F.col("l_orderkey").alias("o_orderkey"), cents.alias("cents")
            ),
        )
        # MERGE hint pins the SortMergeJoin path in the lazy plan
        # itself (a conf toggle would not survive to execution time):
        # with both sides bucketed 16-ways on the key, the SMJ needs
        # no Exchange on either side
        joined = (
            spark.table(to).hint("merge").join(spark.table(tl), "o_orderkey")
        )
    except Exception:  # noqa: BLE001 — storage-less/read-only session
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus"
        )
        li = load_table(spark, "lineitem", sf_dir).select(
            F.col("l_orderkey").alias("o_orderkey"), cents.alias("cents")
        )
        joined = o.join(li, "o_orderkey")
    return (
        joined.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").cast("bigint").alias("price_cents"),
        )
        .orderBy("status")
    )


@query(
    "manifest_change_feed",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, n_chars AS payload
      FROM documents WHERE doc_id % 2 = 0
    ), batch2 AS (
      SELECT doc_id, n_chars + 1000 AS payload
      FROM documents WHERE doc_id % 3 = 0
    ), v2 AS (
      SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
             COALESCE(b.payload, a.payload) AS payload
      FROM v1 a FULL OUTER JOIN batch2 b ON a.doc_id = b.doc_id
    ), feed AS (
      SELECT CASE WHEN o.doc_id IS NULL THEN 'insert'
                  WHEN n.payload <> o.payload THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             n.payload AS payload
      FROM v2 n LEFT OUTER JOIN v1 o ON n.doc_id = o.doc_id
    )
    SELECT change_type,
           count(*) AS n_keys,
           CAST(sum(payload) AS BIGINT) AS payload_sum
    FROM feed
    GROUP BY change_type
    ORDER BY change_type
    """,
    covers=("T3", "T4", "X-sink-change-feed"),
)
def manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read off the manifest-committed keyed sink
    (streaming/sink.py) — the Delta CHANGE_DATA_FEED / Iceberg
    changelog idea derived purely from retained snapshots: commit v1
    (docs with even doc_id), commit v2 (an update/insert batch: every
    doc_id % 3 == 0 with a bumped payload), then TIME-TRAVEL read both
    versions and outer-join them into the per-key change feed
    (insert / update / unchanged; this feed runs upserts only so deletes
    cannot occur). This puts the round-9/10 flagship commit protocol —
    versioned manifests, keep_versions retention, bucket-pruned merge
    — under the cross-engine ORACLE gate, not just pytest: a commit
    that lost rows, a time-travel read that resolved the wrong
    manifest, or a bucket layout fork would all bend the per-type
    counts/checksum. At 100 TB the same two snapshot reads are
    manifest-pruned file listings, never a directory walk, and the
    diff is one shuffle on the view key. Reference parity: the CDC
    fan-out contract of postgres_to_es/daemon.py:276-334, re-expressed
    as snapshot algebra."""
    from etl_sprint_2_5_spark.streaming.sink import (
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
    )

    d = load_table(spark, "documents", sf_dir)
    v1_batch = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.col("n_chars").alias("payload")
    )
    v2_batch = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", (F.col("n_chars") + F.lit(1000)).alias("payload")
    )

    with tempfile.TemporaryDirectory(prefix="change_feed_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark, v1_batch, view, key="doc_id", n_buckets=8, keep_versions=3
        )
        upsert_keyed_parquet_bucketed(
            spark, v2_batch, view, key="doc_id", n_buckets=8, keep_versions=3
        )

        old = read_bucketed_view(spark, view, version=1).select(
            F.col("doc_id").alias("o_id"), F.col("payload").alias("o_payload")
        )
        new = read_bucketed_view(spark, view, version=2)
        feed = new.join(old, new["doc_id"] == old["o_id"], "left_outer").select(
            F.when(F.col("o_id").isNull(), F.lit("insert"))
            .when(F.col("payload") != F.col("o_payload"), F.lit("update"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
            "payload",
        )
        out = (
            feed.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .orderBy("change_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)


def _cdf_three_commits(spark: SparkSession, sf_dir: str, view: str) -> None:
    """Shared builder for the change-feed gates: v1 = even doc_ids,
    v2 = upsert every doc_id % 3 (payload + 1000), v3 = DELETE every
    doc_id % 5 (bucket-pruned rewrite)."""
    from etl_sprint_2_5_spark.streaming.sink import (
        delete_keys_bucketed,
        upsert_keyed_parquet_bucketed,
    )

    d = load_table(spark, "documents", sf_dir)
    upsert_keyed_parquet_bucketed(
        spark,
        d.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.col("n_chars").alias("payload")
        ),
        view, key="doc_id", n_buckets=8, keep_versions=4,
    )
    upsert_keyed_parquet_bucketed(
        spark,
        d.where(F.col("doc_id") % 3 == 0).select(
            "doc_id", (F.col("n_chars") + F.lit(1000)).alias("payload")
        ),
        view, key="doc_id", n_buckets=8, keep_versions=4,
    )
    delete_keys_bucketed(
        spark,
        d.where(F.col("doc_id") % 5 == 0).select("doc_id"),
        view, key="doc_id", keep_versions=4,
    )


def _cdf_oracle(changed_only: bool = False) -> str:
    """The v1 → v3 change feed of ``_cdf_three_commits`` counted per
    op; ``changed_only`` drops the unchanged keys (the pruned feed)."""
    where = "\n    WHERE op <> 'unchanged'" if changed_only else ""
    return f"""
    WITH v1 AS (
      SELECT doc_id, n_chars AS payload
      FROM documents WHERE doc_id % 2 = 0
    ), v3 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS payload
      FROM documents
      WHERE (doc_id % 2 = 0 OR doc_id % 3 = 0) AND doc_id % 5 <> 0
    ), feed AS (
      SELECT CASE WHEN o.doc_id IS NULL THEN 'insert'
                  WHEN n.doc_id IS NULL THEN 'delete'
                  WHEN n.payload <> o.payload THEN 'update'
                  ELSE 'unchanged' END AS op,
             COALESCE(n.payload, o.payload) AS payload
      FROM v3 n FULL OUTER JOIN v1 o ON n.doc_id = o.doc_id
    )
    SELECT op,
           count(*) AS n_keys,
           CAST(sum(payload) AS BIGINT) AS payload_sum
    FROM feed{where}
    GROUP BY op
    ORDER BY op
    """


@query(
    "manifest_change_feed_deletes",
    oracle=_cdf_oracle(),
    covers=("T3", "T4", "X-sink-change-feed"),
)
def manifest_change_feed_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Delta-CDF analog over the manifest sink — all four
    ops, including explicit ``op='delete'`` rows (manifest_change_feed
    runs upserts only, so deletes could previously surface merely as
    key disappearance). Three commits: v1 (even doc_ids), v2 (upsert
    every doc_id % 3 with a bumped payload), v3 (DELETE every
    doc_id % 5 through delete_keys_bucketed's bucket-pruned rewrite).
    Time-travel reads of v1 and v3 FULL-outer-join into the feed:
    insert (in v3 only), delete (in v1 only — the row ships its OLD
    payload, what a downstream IVM needs to retract), update, and
    unchanged. A downstream consumer replaying this feed — including
    the delete retractions — reconstructs v3 from v1 exactly
    (pytest-pinned in tests/test_ivm.py). At 100 TB both snapshot
    reads are manifest-listed file sets and the diff is one shuffle
    on the view key. Reference parity: the CDC delete fan-out of
    postgres_to_es/daemon.py:276-334 (films dropped from the index),
    re-expressed as snapshot algebra."""
    from etl_sprint_2_5_spark.streaming.sink import read_bucketed_view

    with tempfile.TemporaryDirectory(prefix="cdf_del_") as tmp:
        view = f"{tmp}/docs_view"
        _cdf_three_commits(spark, sf_dir, view)

        old = read_bucketed_view(spark, view, version=1).select(
            F.col("doc_id").alias("o_id"), F.col("payload").alias("o_payload")
        )
        new = read_bucketed_view(spark, view, version=3)
        feed = new.join(
            old, new["doc_id"] == old["o_id"], "full_outer"
        ).select(
            F.when(F.col("o_id").isNull(), F.lit("insert"))
            .when(F.col("doc_id").isNull(), F.lit("delete"))
            .when(F.col("payload") != F.col("o_payload"), F.lit("update"))
            .otherwise(F.lit("unchanged"))
            .alias("op"),
            F.coalesce(F.col("payload"), F.col("o_payload")).alias("payload"),
        )
        out = (
            feed.groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .orderBy("op")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_change_feed_pruned",
    oracle=_cdf_oracle(changed_only=True),
    covers=("T4", "X-sink-change-feed"),
)
def manifest_change_feed_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed the way a 100-TB consumer actually wants it:
    BUCKET-PRUNED and without the unchanged rows. Data dirs are
    immutable and each commit re-points exactly the buckets it
    touched, so two manifests prove — with zero data reads — which
    buckets CAN contain changes (streaming/sink.changed_buckets);
    snapshot_diff_views restricts BOTH snapshot scans to that subset
    before the outer-join diff, making feed cost proportional to the
    CHANGED buckets, not the view (a maintenance cycle touching 0.1%
    of a ~100k-bucket view diffs ~0.1% of it — the same file skipping
    a Delta CDF read gets from its commit log). Rows in untouched
    buckets are provably unchanged, so the pruned feed is COMPLETE
    for insert/update/delete — gated here against the oracle's
    UNPRUNED full-corpus reconstruction (same three commits as
    manifest_change_feed_deletes), which is exactly the completeness
    claim: any key the pruning wrongly skipped would be a missing
    feed row and a hash mismatch. The exclusion of untouched buckets
    from the physical scan is pytest-pinned via inputFiles() in
    tests/test_sink_delta.py."""
    from etl_sprint_2_5_spark.streaming.sink import snapshot_diff_views

    with tempfile.TemporaryDirectory(prefix="cdf_pruned_") as tmp:
        view = f"{tmp}/docs_view"
        _cdf_three_commits(spark, sf_dir, view)
        old_rows, new_rows, _ = snapshot_diff_views(spark, view, 1, 3)
        old = old_rows.select(
            F.col("doc_id").alias("o_id"), F.col("payload").alias("o_payload")
        )
        feed = new_rows.join(
            old, new_rows["doc_id"] == old["o_id"], "full_outer"
        ).select(
            F.when(F.col("o_id").isNull(), F.lit("insert"))
            .when(F.col("doc_id").isNull(), F.lit("delete"))
            .when(F.col("payload") != F.col("o_payload"), F.lit("update"))
            .otherwise(F.lit("unchanged"))
            .alias("op"),
            F.coalesce(F.col("payload"), F.col("o_payload")).alias("payload"),
        )
        out = (
            feed.where(F.col("op") != "unchanged")
            .groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .orderBy("op")
        )
        return spark.createDataFrame(out.collect(), out.schema)


_DELTA_MERGE_ORACLE = """
    WITH merged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN n_chars + 2000
                  WHEN doc_id % 3 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS payload
      FROM documents
      WHERE (doc_id % 2 = 0 OR doc_id % 3 = 0 OR doc_id % 5 = 0)
        AND doc_id % 7 <> 0
    )
    SELECT doc_id % 4 AS grp,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           {pending} AS n_pending_deltas
    FROM merged
    GROUP BY doc_id % 4
    ORDER BY grp
    """


def _delta_log_view(spark: SparkSession, sf_dir: str, view: str) -> None:
    """Shared builder: base commit + two upsert deltas + one tombstone
    delta against the documents table (see the oracle CASE ladder)."""
    from etl_sprint_2_5_spark.streaming.sink import (
        delete_keys_delta,
        upsert_keyed_parquet_bucketed,
        upsert_keyed_parquet_delta,
    )

    d = load_table(spark, "documents", sf_dir)
    upsert_keyed_parquet_bucketed(
        spark,
        d.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.col("n_chars").alias("payload")
        ),
        view, key="doc_id", n_buckets=8, keep_versions=2,
    )
    upsert_keyed_parquet_delta(
        spark,
        d.where(F.col("doc_id") % 3 == 0).select(
            "doc_id", (F.col("n_chars") + F.lit(1000)).alias("payload")
        ),
        view, key="doc_id", keep_versions=2,
    )
    upsert_keyed_parquet_delta(
        spark,
        d.where(F.col("doc_id") % 5 == 0).select(
            "doc_id", (F.col("n_chars") + F.lit(2000)).alias("payload")
        ),
        view, key="doc_id", keep_versions=2,
    )
    delete_keys_delta(
        spark,
        d.where(F.col("doc_id") % 7 == 0).select("doc_id"),
        view, key="doc_id", keep_versions=2,
    )


def _delta_rollup(spark, view, n_pending: int):  # noqa: ANN001
    from etl_sprint_2_5_spark.streaming.sink import read_bucketed_view

    merged = read_bucketed_view(spark, view)
    out = (
        merged.groupBy((F.col("doc_id") % 4).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("payload").cast("bigint").alias("payload_sum"),
        )
        .withColumn("n_pending_deltas", F.lit(n_pending).cast("bigint"))
        .orderBy("grp")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_delta_merge_read",
    oracle=_DELTA_MERGE_ORACLE.format(pending="CAST(3 AS BIGINT)"),
    covers=("T3", "X-sink-delta-log"),
)
def manifest_delta_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read over the LOG-STRUCTURED sink path under the
    oracle gate: one base commit plus three delta commits (two keyed
    upserts, one tombstone delete — streaming/sink.py
    upsert_keyed_parquet_delta / delete_keys_delta), then a single
    read that resolves per key by commit sequence (newest wins,
    tombstones drop). Each delta commit wrote O(batch) bytes — no
    bucket was rewritten (pytest-pinned byte bound in
    tests/test_sink_delta.py) — which is the property that makes
    CDC-rate maintenance affordable at 100 TB where the rewrite path
    pays ~1 GiB per touched bucket per cycle. The n_pending_deltas
    column pins the manifest state itself: exactly 3 delta commits
    outstanding at read time. The merge is ONE exchange on the view
    key and 1+3 pruned scans. Companion: manifest_delta_compact_equiv
    proves folding the log changes nothing."""
    from etl_sprint_2_5_spark.streaming.sink import load_manifest

    with tempfile.TemporaryDirectory(prefix="delta_merge_") as tmp:
        view = f"{tmp}/docs_view"
        _delta_log_view(spark, sf_dir, view)
        pending = len(load_manifest(view).get("delta_commits", ()))
        return _delta_rollup(spark, view, pending)


@query(
    "manifest_delta_compact_equiv",
    oracle=_DELTA_MERGE_ORACLE.format(pending="CAST(0 AS BIGINT)"),
    covers=("T3", "X-sink-delta-log"),
)
def manifest_delta_compact_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction equivalence: the same base + 3-delta log as
    manifest_delta_merge_read, but compact_bucketed_view folds the
    deltas into new per-bucket bases (through the same manifest CAS)
    BEFORE the read. The rollup must be bit-identical to the
    merge-on-read oracle — compaction is pure reorganization — and
    n_pending_deltas is pinned to the oracle's structural 0, so a
    compactor that left (or dropped) a delta commit fails the hash
    gate loudly. Only buckets appearing in some delta are rewritten;
    tombstoned bytes leave the readable set here and leave DISK once
    superseded snapshots age out of keep_versions (the
    retention-vs-erasure trade, pytest-pinned in
    tests/test_sink_delta.py::test_compact_physical_erasure_after_retention)."""
    from etl_sprint_2_5_spark.streaming.sink import (
        compact_bucketed_view,
        load_manifest,
    )

    with tempfile.TemporaryDirectory(prefix="delta_compact_") as tmp:
        view = f"{tmp}/docs_view"
        _delta_log_view(spark, sf_dir, view)
        compact_bucketed_view(spark, view, keep_versions=2)
        pending = len(load_manifest(view).get("delta_commits", ()))
        return _delta_rollup(spark, view, pending)


@query(
    "manifest_pruned_merge_read",
    oracle="""
    WITH merged AS (
      SELECT doc_id,
             CASE WHEN doc_id <= 5 THEN n_chars + 5000
                  ELSE n_chars END AS payload
      FROM documents
      WHERE doc_id NOT IN (6, 7)
    )
    SELECT doc_id % 4 AS grp,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           TRUE AS merge_pruned
    FROM merged
    GROUP BY doc_id % 4
    ORDER BY grp
    """,
    covers=("T3", "X-sink-delta-log"),
)
def manifest_pruned_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-PRUNED merge-on-read under the oracle gate: the whole
    documents table lands as the base commit over 64 buckets, then a
    delta upsert touches only doc_id <= 5 and a tombstone delta drops
    doc_ids 6-7 — a handful of keys, so the pending log touches a few
    buckets while most of the view's buckets carry no delta.
    read_bucketed_view (streaming/sink.py) must resolve this WITHOUT
    windowing the whole view on the key: only delta-touched buckets
    enter the sequence-resolve merge (one exchange over O(touched
    buckets) rows); every untouched bucket's base dir is provably
    current (immutable dirs — deltas re-point exactly the buckets they
    touch) and scans directly below the window. At the 100-TB sizing
    (a CDC cycle touching ~0.1% of ~100k buckets) this is the
    difference between shuffling ~0.1% of the view per read and
    shuffling all of it. The merge_pruned column pins the structural
    claim from the manifest algebra — the delta-touched set is a
    strict subset of the populated buckets, so direct-scan pruning was
    actually in play (the physical exclusion is pytest-pinned via
    inputFiles in tests/test_sink_delta.py); the grouped counts and
    payload checksum gate that pruning changed no row. Companion:
    manifest_delta_merge_read (unpruned semantics), compact_equiv."""
    from etl_sprint_2_5_spark.streaming.sink import (
        delete_keys_delta,
        load_manifest,
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
        upsert_keyed_parquet_delta,
    )

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="pruned_merge_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark,
            d.select("doc_id", F.col("n_chars").alias("payload")),
            view, key="doc_id", n_buckets=64, keep_versions=2,
        )
        upsert_keyed_parquet_delta(
            spark,
            d.where(F.col("doc_id") <= 5).select(
                "doc_id", (F.col("n_chars") + F.lit(5000)).alias("payload")
            ),
            view, key="doc_id", keep_versions=2,
        )
        delete_keys_delta(
            spark,
            d.where(F.col("doc_id").isin(6, 7)).select("doc_id"),
            view, key="doc_id", keep_versions=2,
        )
        man = load_manifest(view)
        touched = {
            kb for dc in man["delta_commits"] for kb in dc["buckets"]
        }
        pruned = bool(touched) and bool(set(man["buckets"]) - touched)
        merged = read_bucketed_view(spark, view)
        out = (
            merged.groupBy((F.col("doc_id") % 4).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .withColumn("merge_pruned", F.lit(pruned))
            .orderBy("grp")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_rebucket_equiv",
    oracle="""
    WITH merged AS (
      SELECT doc_id,
             CASE WHEN doc_id <= 5 THEN n_chars + 5000
                  WHEN doc_id IN (8, 9) THEN n_chars + 7000
                  ELSE n_chars END AS payload
      FROM documents
      WHERE doc_id NOT IN (6, 7)
    )
    SELECT doc_id % 4 AS grp,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           TRUE AS mid_was_mixed,
           TRUE AS migrated
    FROM merged
    GROUP BY doc_id % 4
    ORDER BY grp
    """,
    covers=("T3", "X-sink-rebucket"),
)
def manifest_rebucket_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE bucket-count migration under the oracle gate
    (streaming/sink.py split_buckets — Iceberg partition-spec
    evolution on plain parquet). The stamped bucket count exists so
    writers can't fork the layout, but it also pins a view that grew
    100× to 100×-oversized buckets; split_buckets migrates the count
    linear-hashing style: the target is factor×n, so hash%(f·n) is
    congruent to hash%n (mod n) — each old bucket splits into exactly
    its {kb + j·n} children LOCALLY, one old bucket of I/O per step,
    no cross-bucket shuffle, amortized over as many commits as the
    operator likes. Scenario: documents land over 4 buckets, the
    FIRST migration step splits half the buckets, then — with the
    manifest mid-migration — a rewrite upsert (doc_id<=5), a rewrite
    delete (6,7), a DELTA upsert (8,9) and its compaction all route
    through the MIXED layout; the final step completes the migration
    (n_buckets=8, marker dropped). The gated rollup proves not one
    row was lost, duplicated, or misrouted across the re-layout;
    mid_was_mixed pins from the manifest that writers really ran
    against a half-migrated layout, migrated pins the completed stamp.
    Crash/concurrency closures are pytest-pinned in
    tests/test_sink_split.py (CAS-loss restage, delta-writer restage
    on layout change, marker carry-forward, time travel across the
    split, row-empty change feed)."""
    from etl_sprint_2_5_spark.streaming.sink import (
        compact_bucketed_view,
        delete_keys_bucketed,
        load_manifest,
        read_bucketed_view,
        split_buckets,
        upsert_keyed_parquet_bucketed,
        upsert_keyed_parquet_delta,
    )

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="rebucket_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark,
            d.select("doc_id", F.col("n_chars").alias("payload")),
            view, key="doc_id", n_buckets=4, keep_versions=2,
        )
        split_buckets(spark, view, factor=2, buckets_per_call=2)
        man = load_manifest(view)
        mid_mixed = (
            man.get("rebucket") is not None
            and 0 < len(man["rebucket"]["done"]) < 4
        )
        upsert_keyed_parquet_bucketed(  # rewrite upsert, mixed routing
            spark,
            d.where(F.col("doc_id") <= 5).select(
                "doc_id", (F.col("n_chars") + F.lit(5000)).alias("payload")
            ),
            view, key="doc_id",
        )
        delete_keys_bucketed(  # rewrite delete, mixed routing
            spark,
            d.where(F.col("doc_id").isin(6, 7)).select("doc_id"),
            view, key="doc_id",
        )
        upsert_keyed_parquet_delta(  # delta commit, mixed routing
            spark,
            d.where(F.col("doc_id").isin(8, 9)).select(
                "doc_id", (F.col("n_chars") + F.lit(7000)).alias("payload")
            ),
            view, key="doc_id",
        )
        compact_bucketed_view(spark, view)  # drain the log, then finish
        split_buckets(spark, view, factor=2)
        man2 = load_manifest(view)
        migrated = int(man2["n_buckets"]) == 8 and "rebucket" not in man2
        merged = read_bucketed_view(spark, view)
        out = (
            merged.groupBy((F.col("doc_id") % 4).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .withColumn("mid_was_mixed", F.lit(mid_mixed))
            .withColumn("migrated", F.lit(migrated))
            .orderBy("grp")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_auto_maintain",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN n_chars + 7000
                  ELSE n_chars END AS payload
      FROM documents
      UNION ALL
      SELECT doc_id + 10000000, n_chars + 1000 FROM documents
      UNION ALL
      SELECT doc_id + 20000000, n_chars + 2000 FROM documents
      WHERE doc_id % 2 = 0
    )
    SELECT doc_id % 4 AS grp,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           TRUE AS started_mid,
           TRUE AS completed,
           TRUE AS folded,
           TRUE AS idle_noop
    FROM v
    GROUP BY doc_id % 4
    ORDER BY grp
    """,
    covers=("T3", "X-sink-rebucket", "X-sink-delta-log",
            "X-sink-maintain"),
)
def manifest_auto_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELF-MANAGING maintenance slot end-to-end
    (streaming/sink.maintain_bucketed_view — Delta's OPTIMIZE +
    auto-compaction policy composed from this sink's verbs), under the
    oracle gate: a view that GROWS past its target bucket size must
    fold its delta log, notice the drift from a bounded size sample,
    start a 2× linear-hashing migration, advance it across slots WHILE
    delta writers keep landing on the mixed layout, complete it, and
    then go quiescent — all without an operator ever calling
    split_buckets directly.

    Self-calibrating scenario (deterministic at every SF): documents
    lands over 4 buckets; the target is set to 1.5× the MEASURED v1
    average bucket size; delta waves then add 1.5× more rows (every
    doc re-keyed +10M, every even doc +20M), so the post-fold average
    crosses the target at any scale (row growth 2.5×; parquet
    overhead keeps byte growth above 1.5× even at sf0.001) while the
    post-split average (≈2.3×/2) lands back UNDER it — the final slot
    must be a no-op. Between the first and second slot a further
    delta wave updates existing keys (doc_id % 5) — landing
    mid-migration, folded by the second slot through the mixed
    layout. Four structural pins ride the gate: started_mid (slot 1
    folded the log AND started+advanced a split that left the marker
    pending), completed (slot 2 finished the migration — 8 buckets,
    marker dropped), folded (both slots compacted >0 delta commits),
    idle_noop (slot 3 did nothing: no deltas, size back under
    target). The grouped counts + payload checksum gate that the
    whole maintenance history changed no row. At 100 TB this is one
    cron slot per CDC cycle: cost proportional to the cycle's deltas
    plus at most buckets_per_call bucket rewrites — never the corpus."""
    from etl_sprint_2_5_spark.streaming.sink import (
        dir_bytes,
        load_manifest,
        maintain_bucketed_view,
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
        upsert_keyed_parquet_delta,
    )

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="auto_maintain_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark,
            d.select("doc_id", F.col("n_chars").alias("payload")),
            view, key="doc_id", n_buckets=4, keep_versions=2,
        )
        man = load_manifest(view)
        rels = list(man["buckets"].values())
        avg0 = sum(
            dir_bytes(f"{view}/{rel}") for rel in rels
        ) / max(1, len(rels))
        target = int(avg0 * 1.5)

        # growth wave: 1.5x new keys through the delta log
        upsert_keyed_parquet_delta(
            spark,
            d.select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                (F.col("n_chars") + F.lit(1000)).alias("payload"),
            ),
            view, key="doc_id", keep_versions=2,
        )
        upsert_keyed_parquet_delta(
            spark,
            d.where(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
                (F.col("n_chars") + F.lit(2000)).alias("payload"),
            ),
            view, key="doc_id", keep_versions=2,
        )
        s1 = maintain_bucketed_view(
            spark, view, target_bucket_bytes=target, buckets_per_call=2,
        )
        started_mid = (
            s1["compacted"] > 0 and s1["split"] > 0
            and s1["migration_pending"]
        )
        # a CDC wave lands MID-MIGRATION (existing keys updated)
        upsert_keyed_parquet_delta(
            spark,
            d.where(F.col("doc_id") % 5 == 0).select(
                "doc_id", (F.col("n_chars") + F.lit(7000)).alias("payload")
            ),
            view, key="doc_id", keep_versions=2,
        )
        s2 = maintain_bucketed_view(
            spark, view, target_bucket_bytes=target, buckets_per_call=2,
        )
        man2 = load_manifest(view)
        completed = (
            s2["split"] > 0 and not s2["migration_pending"]
            and int(man2["n_buckets"]) == 8 and "rebucket" not in man2
        )
        folded = s1["compacted"] > 0 and s2["compacted"] > 0
        s3 = maintain_bucketed_view(
            spark, view, target_bucket_bytes=target, buckets_per_call=2,
        )
        idle_noop = (
            s3["compacted"] == 0 and s3["split"] == 0
            and not s3["migration_pending"]
        )

        out = (
            read_bucketed_view(spark, view)
            .groupBy((F.col("doc_id") % 4).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .withColumn("started_mid", F.lit(bool(started_mid)))
            .withColumn("completed", F.lit(bool(completed)))
            .withColumn("folded", F.lit(bool(folded)))
            .withColumn("idle_noop", F.lit(bool(idle_noop)))
            .orderBy("grp")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "orc_roundtrip_checksum",
    oracle="""
    SELECT l_linestatus AS bucket,
           count(*)     AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    ORDER BY bucket
    """,
    covers=("X-format-orc",),
)
def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar interchange format (format breadth
    beyond parquet/CSV/JSONL — the reference's SQLite source has no
    single canonical lake format, so the engine must not either):
    lineitem lands as ORC partitioned by l_returnflag, is read back
    through the ORC reader with a partition predicate, and the gated
    per-linestatus counts + cents checksum prove the roundtrip bent
    nothing (types, NULLs, partition-column reconstruction). The
    read-back filter prunes to the single 'R' partition directory —
    same partition-pruning contract as the parquet path
    (partitioned_write_prune) — and ORC carries its own min/max
    stripe stats so non-partition predicates push down JVM-side too.
    Spark's ORC support is built-in (no external package), making
    this the zero-dependency migration path for Hive-era ORC lakes
    at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    with tempfile.TemporaryDirectory(prefix="orc_rt_") as tmp:
        data = f"{tmp}/data"
        li.write.partitionBy("l_returnflag").mode("overwrite").orc(data)
        back = spark.read.orc(data).where(F.col("l_returnflag") == "R")
        out = (
            back.groupBy(F.col("l_linestatus").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("l_orderkey").alias("n_orders"),
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("price_cents"),
            )
            .orderBy("bucket")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "time_weighted_value",
    oracle="""
    WITH stepped AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) AS t0,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS t1
      FROM events
    ), ivals AS (
      SELECT user_id, cents, t1 - t0 AS dur_us
      FROM stepped WHERE t1 IS NOT NULL
    ), per_user AS (
      SELECT user_id,
             count(*) AS n_intervals,
             CAST(sum(dur_us) AS BIGINT) AS span_us,
             CAST(sum(cents * dur_us) AS BIGINT) AS wsum
      FROM ivals
      GROUP BY user_id
      HAVING sum(dur_us) > 0
    )
    SELECT user_id, n_intervals, span_us,
           CAST((wsum * 10) // span_us AS BIGINT) AS twap_milli
    FROM per_user
    ORDER BY twap_milli DESC, user_id
    LIMIT 50
    """,
    covers=("X-temporal-twap",),
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user — the
    interval-weighted temporal mean a metering / billing / market-data
    pipeline needs, where a plain AVG over readings is wrong because
    readings are irregularly spaced: each event's value HOLDS until
    the user's next event (step interpolation), so the mean weights
    each level by how long it persisted. Numerically: values are
    fixed-pointed to cents BEFORE multiplication, durations are exact
    epoch-microsecond BIGINTs (both endpoints truncated ns→us THEN
    subtracted, mirroring epoch_us), and the final division is
    integer `div` to milli-units — every aggregate an
    order-independent BIGINT sum, no association-ordered double sums
    anywhere. One shuffle on user_id (window + agg share the
    partitioning; Catalyst plans a single Exchange); int64 headroom
    proven: max cents (49k) x max span (~month in us, 2.6e12) x 10 ≈
    1.3e18 < 2^63. The last event per user contributes no interval
    (open-ended level, zero observed duration) — the standard TWAP
    convention."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("t0"),
        F.unix_micros(F.lead("ts").over(w)).alias("t1"),
    )
    ivals = stepped.where(F.col("t1").isNotNull()).select(
        "user_id", "cents", (F.col("t1") - F.col("t0")).alias("dur_us")
    )
    per_user = (
        ivals.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").cast("bigint").alias("span_us"),
            F.sum(F.col("cents") * F.col("dur_us")).cast("bigint").alias("wsum"),
        )
        .where(F.col("span_us") > 0)
    )
    return (
        per_user.select(
            "user_id",
            "n_intervals",
            "span_us",
            F.expr("(wsum * 10) div span_us").cast("bigint").alias("twap_milli"),
        )
        .orderBy(F.desc("twap_milli"), F.asc("user_id"))
        .limit(50)
    )
